"""Token filters beyond the StandardAnalyzer core chain.

Reference (lucene/analysis/common/src/java/org/apache/lucene/analysis/...):
  en/PorterStemmer.java          — the Porter (1980) algorithm, Release 3,
                                   with the two indexing bugfixes (:28-36)
  en/EnglishPossessiveFilter.java:41-47 — strip trailing 's / ’s / ʼs
  miscellaneous/ASCIIFoldingFilter.java — accent folding (documented SUBSET
                                   here: NFKD + combining-mark strip + the
                                   common Latin special cases; the reference
                                   enumerates 1243 explicit mappings)
  miscellaneous/LengthFilter.java:30-42 — drop tokens outside [min, max]
  shingle/ShingleFilter.java     — token n-grams (word shingles)
  ngram/NGramTokenFilter.java, ngram/EdgeNGramTokenFilter.java

Per-token filters are plain ``str -> str | None`` callables (None = remove
token, leaving a position gap exactly like FilteringTokenFilter bumps the
position increment).  They plug into :class:`lucene_spark.analysis.Analyzer`
either before the stop filter (``pre_filters`` — EnglishPossessiveFilter's
slot, so "it's" → "it" → stopped, matching EnglishAnalyzer.java:110-118) or
after it (``post_filters`` — PorterStemFilter's slot).

Shingles and n-grams are provided BOTH as list-level Python helpers (for the
analyzer chain and tests) and as Catalyst Column expressions (``*_col``) —
the Column forms are pure JVM ``transform``/``sequence`` expressions with no
Python in the loop, which is what a 100 TB shingling pass must use.
"""

from __future__ import annotations

import unicodedata

_VOWELS = "aeiou"


# --------------------------------------------------------------- Porter


def _cons_flags(w: str) -> list[bool]:
    """cons(i) per PorterStemmer.java:110-124: aeiou are vowels; y is a
    consonant at position 0 or after a vowel, else a vowel."""
    out: list[bool] = []
    for i, c in enumerate(w):
        if c in _VOWELS:
            out.append(False)
        elif c == "y":
            out.append(True if i == 0 else not out[i - 1])
        else:
            out.append(True)
    return out


def _measure(w: str) -> int:
    """m() = number of vowel→consonant transitions in the [C](VC)^m[V]
    decomposition (PorterStemmer.java:128-160)."""
    fl = _cons_flags(w)
    return sum(1 for i in range(1, len(fl)) if fl[i] and not fl[i - 1])


def _has_vowel(w: str) -> bool:
    return not all(_cons_flags(w))


def _doublec(w: str) -> bool:
    """ends with a double consonant (PorterStemmer.java:173-177)."""
    return len(w) >= 2 and w[-1] == w[-2] and _cons_flags(w)[-1]


def _cvc(w: str, i: int) -> bool:
    """b[i-2..i] = consonant-vowel-consonant, last not w/x/y
    (PorterStemmer.java:188-196)."""
    if i < 2:
        return False
    fl = _cons_flags(w)
    if not fl[i] or fl[i - 1] or not fl[i - 2]:
        return False
    return w[i] not in "wxy"


_STEP3 = [  # PorterStemmer.java step3 (:277-379), double → single suffices
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"), ("bli", "ble"), ("alli", "al"), ("entli", "ent"),
    ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
    ("logi", "log"),
]

_STEP4 = [  # step4 (:384-423)
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
]

_STEP5 = [  # step5 (:425-476): strip in context m > 1; 'ion' needs s/t stem
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
]


def porter_stem(w: str) -> str:
    """The Porter stemming algorithm (Porter 1980, 'An algorithm for suffix
    stripping'), matching the reference implementation's fixed Release 3
    (en/PorterStemmer.java) including its two out-of-bounds bugfixes and the
    y-as-consonant rules.  Input must be lowercase."""
    if len(w) <= 2:  # stem() guard k > k0+1 (PorterStemmer.java:539)
        return w

    # step1: plurals, -ed, -ing (:232-262)
    if w.endswith("s"):
        if w.endswith("sses"):
            w = w[:-2]
        elif w.endswith("ies"):
            w = w[:-3] + "i"
        elif not w.endswith("ss"):
            w = w[:-1]
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    else:
        stripped = None
        if w.endswith("ed") and _has_vowel(w[:-2]):
            stripped = w[:-2]
        elif w.endswith("ing") and _has_vowel(w[:-3]):
            stripped = w[:-3]
        if stripped is not None:
            w = stripped
            if w.endswith(("at", "bl", "iz")):
                w += "e"
            elif _doublec(w) and w[-1] not in "lsz":
                w = w[:-1]
            elif _measure(w) == 1 and _cvc(w, len(w) - 1):
                w += "e"

    # step2: terminal y → i when the stem has a vowel (:266-271)
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # steps 3-4: map double suffices to single, then -ic-/-ful/-ness,
    # each applied when the remaining stem has m > 0; first matching
    # suffix wins (the reference's switch dispatches on one char, which
    # partitions these lists — sequential first-match is equivalent)
    for step in (_STEP3, _STEP4):
        if len(w) <= 1:
            break  # "For Bug 1" guard (:278)
        for sfx, rep in step:
            if w.endswith(sfx):
                stem = w[: len(w) - len(sfx)]
                if _measure(stem) > 0:
                    w = stem + rep
                break

    # step5: -ant, -ence, ... stripped when m > 1 (:427-476); the first
    # matching suffix is the ONLY one considered, stripped or not
    if len(w) > 1:
        for sfx in _STEP5:
            if w.endswith(sfx):
                stem = w[: len(w) - len(sfx)]
                if sfx == "ion" and not stem.endswith(("s", "t")):
                    continue  # falls through to 'ou' in the reference
                if _measure(stem) > 1:
                    w = stem
                break

    # step6: final -e, final -ll (:480-487).  The reference measures m over
    # k0..j with j pinned at the ORIGINAL end, so both checks see the word
    # including a just-dropped trailing 'e'.
    orig = w
    if w.endswith("e"):
        a = _measure(orig)
        if a > 1 or (a == 1 and not _cvc(w, len(w) - 2)):
            w = w[:-1]
    if w.endswith("l") and _doublec(w) and _measure(orig) > 1:
        w = w[:-1]
    return w


# ------------------------------------------------- per-token filters


def strip_possessive(token: str) -> str:
    """EnglishPossessiveFilter.java:41-47: drop a trailing 's (apostrophe
    variants U+0027, U+2019, U+FF07; s or S)."""
    if len(token) >= 2 and token[-2] in "'’＇" and token[-1] in "sS":
        return token[:-2]
    return token


_FOLD_SPECIALS = str.maketrans({
    "ß": "ss", "Æ": "AE", "æ": "ae", "Œ": "OE", "œ": "oe",
    "Ø": "O", "ø": "o", "Đ": "D", "đ": "d", "Ð": "D", "ð": "d",
    "Þ": "TH", "þ": "th", "Ł": "L", "ł": "l", "ı": "i", "Ħ": "H", "ħ": "h",
})


def ascii_fold(token: str) -> str:
    """ASCIIFoldingFilter analog (documented subset): special Latin ligature/
    stroke cases, then NFKD decomposition with combining marks stripped.
    Covers the Latin-1 Supplement + Latin Extended-A accent repertoire
    (café→cafe, Ångström→Angstrom, łódź→lodz); the reference's full 1243-case
    table additionally folds punctuation variants, which are out of scope."""
    if token.isascii():
        return token
    t = token.translate(_FOLD_SPECIALS)
    decomposed = unicodedata.normalize("NFKD", t)
    return "".join(c for c in decomposed if not unicodedata.combining(c))


def length_filter(min_len: int, max_len: int):
    """LengthFilter.java:30-42 — factory: None (remove) outside [min, max];
    removal leaves a position gap (FilteringTokenFilter)."""

    def f(token: str) -> str | None:
        return token if min_len <= len(token) <= max_len else None

    return f


# ------------------------------------------------- list-level helpers


def shingle_tokens(tokens: list[str], min_size: int = 2, max_size: int = 2,
                   sep: str = " ", output_unigrams: bool = False) -> list[str]:
    """Word shingles (ShingleFilter.java defaults: min=max=2, sep=' ')."""
    out = list(tokens) if output_unigrams else []
    for n in range(min_size, max_size + 1):
        out.extend(
            sep.join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)
        )
    return out


def edge_ngrams(token: str, min_gram: int = 1, max_gram: int = 2) -> list[str]:
    """Leading-edge n-grams (EdgeNGramTokenFilter.java:24-38)."""
    return [token[:n] for n in range(min_gram, min(max_gram, len(token)) + 1)]


def char_ngrams(token: str, min_gram: int = 1, max_gram: int = 2) -> list[str]:
    """All character n-grams (NGramTokenFilter.java:30-44)."""
    out = []
    for n in range(min_gram, max_gram + 1):
        out.extend(token[i : i + n] for i in range(len(token) - n + 1))
    return out


# --------------------------------------- Catalyst Column forms (JVM-side)


def shingle_col(tokens_col: str, n: int = 2, sep: str = " "):
    """array<string> token column → array<string> of n-shingles as a pure
    Catalyst expression (transform over sequence — whole-stage codegen, no
    Python).  This is the form a corpus-scale shingling pass must use."""
    from pyspark.sql import functions as F

    parts = " , ".join(f"x[i + {j}]" for j in range(n))
    return F.expr(
        f"CASE WHEN size({tokens_col}) < {n} THEN array() ELSE "
        f"transform(sequence(0, size({tokens_col}) - {n}), "
        f"i -> concat_ws('{sep}', {', '.join(f'{tokens_col}[i + {j}]' for j in range(n))})) END"
    )


def edge_ngram_col(term_col: str, min_gram: int = 2, max_gram: int = 4):
    """string column → array<string> of its leading-edge n-grams, JVM-side."""
    from pyspark.sql import functions as F

    # Spark's sequence(a, b) steps DOWNWARD when b < a, so terms shorter
    # than min_gram need an explicit empty-array guard
    return F.expr(
        f"CASE WHEN length({term_col}) < {min_gram} THEN array() ELSE "
        f"transform(sequence({min_gram}, least({max_gram}, length({term_col}))), "
        f"n -> substr({term_col}, 1, n)) END"
    )


def trim(token: str) -> str:
    """TrimFilter (miscellaneous/TrimFilter.java:28-55): strip leading and
    trailing whitespace from the term (relevant for KeywordTokenizer-style
    chains where whitespace can survive into the term)."""
    return token.strip()


_ELISION_ARTICLES = frozenset(
    ["l", "m", "t", "qu", "n", "s", "j", "d", "c", "jusqu", "quoiqu",
     "lorsqu", "puisqu"]
)


def elision(token: str) -> str:
    """ElisionFilter (util/ElisionFilter.java:30-65) with the French default
    article set (fr/FrenchAnalyzer.java:52-57): strip a leading elided
    article before an apostrophe — l'avion → avion, qu'il → il."""
    for apo in ("'", "’"):
        i = token.find(apo)
        if 0 < i and token[:i] in _ELISION_ARTICLES:
            return token[i + 1 :]
    return token


def decimal_digit(token: str) -> str:
    """DecimalDigitFilter (core/DecimalDigitFilter.java:28-45): fold unicode
    decimal digits (Arabic-Indic, Devanagari, full-width, ...) to ASCII
    0-9."""
    if token.isascii():
        return token
    out = []
    for c in token:
        d = unicodedata.digit(c, None)
        out.append(str(d) if d is not None and not c.isascii() else c)
    return "".join(out)


_HTML_TAG_RE = __import__("re").compile(r"<[^>]+>")


def html_strip(text: str) -> str:
    """HTMLStripCharFilter analog (analysis/charfilter/HTMLStripCharFilter
    .java — a CharFilter, i.e. runs BEFORE the tokenizer): removes markup
    tags from the raw text.  Same tag semantics as the byte-exact
    `textops.extract_text_from_html` (tags deleted, no replacement —
    entity decoding and offset correction not implemented)."""
    return _HTML_TAG_RE.sub("", text or "")


def _is_cjk_single(tok: str) -> bool:
    """One Han ideograph or hiragana char — the StandardTokenizer emission
    shape CJKBigramFilter combines (katakana comes out of this tokenizer as
    RUNS and hangul as word runs, so those flags are a documented subset)."""
    if len(tok) != 1:
        return False
    cp = ord(tok)
    return (
        0x4E00 <= cp <= 0x9FFF      # CJK Unified Ideographs
        or 0x3400 <= cp <= 0x4DBF   # Extension A
        or 0x20000 <= cp <= 0x2FA1F  # Extensions B+ / compat supplement
        or 0xF900 <= cp <= 0xFAFF   # compat ideographs
        or 0x3041 <= cp <= 0x3096 or 0x309D <= cp <= 0x309F  # hiragana
        or cp in (0x3006, 0x3007)   # 〆〇
        or 0x3021 <= cp <= 0x3029 or 0x3038 <= cp <= 0x303A  # Suzhou/Hangzhou
    )


def cjk_bigrams(tokens: list[str], positions: list[int]):
    """CJKBigramFilter analog (analysis/cjk/CJKBigramFilter.java:71-115,
    outputUnigrams=false): runs of ADJACENT single CJK tokens (consecutive
    tokenizer positions) combine into overlapping bigrams — a run of n
    chars emits n-1 bigrams, each at the position of its first char; a
    LONE CJK char stays a unigram (:312-320 "was the only token");
    non-CJK tokens pass through untouched.  A stream filter for
    ``Analyzer(stream_filters=...)``."""
    out_t: list[str] = []
    out_p: list[int] = []
    i = 0
    n = len(tokens)
    while i < n:
        if not _is_cjk_single(tokens[i]):
            out_t.append(tokens[i])
            out_p.append(positions[i])
            i += 1
            continue
        j = i
        while (j + 1 < n and _is_cjk_single(tokens[j + 1])
               and positions[j + 1] == positions[j] + 1):
            j += 1
        if j == i:  # lone CJK char: unigram
            out_t.append(tokens[i])
            out_p.append(positions[i])
        else:
            for x in range(i, j):
                out_t.append(tokens[x] + tokens[x + 1])
                out_p.append(positions[x])
        i = j + 1
    return out_t, out_p


class HTMLStripCharFilter:
    """HTMLStripCharFilter WITH offset correction — the BaseCharFilter
    cumulative-delta machinery (analysis/charfilter/BaseCharFilter.java:
    36-77): each removed tag records (output_offset, cumulative_removed);
    ``correct_offset`` adds the diff at the LAST recorded output offset <=
    the queried offset (Arrays.binarySearch semantics, :40-52), mapping
    filtered-text spans back to raw-text spans so highlighting over
    HTML-stripped analysis points at the right characters.

    Instances are plain ``str -> str`` callables, so they drop into the
    existing ``Analyzer(char_filters=...)`` slot; the offsets entry point
    (``analysis.analyze_with_offsets``) detects ``filter_with_offsets``
    and composes corrections through the chain (CharFilter.correctOffset
    chains through nested filters, analysis/CharFilter.java:35-77)."""

    def __call__(self, text: str) -> str:
        return _HTML_TAG_RE.sub("", text or "")

    def filter_with_offsets(self, text: str):
        """→ (stripped_text, offsets int array, diffs int array)."""
        import numpy as np

        text = text or ""
        parts = []
        offs: list[int] = []
        diffs: list[int] = []
        cum = 0
        last = 0
        for m in _HTML_TAG_RE.finditer(text):
            parts.append(text[last:m.start()])
            out_off = m.start() - cum
            cum += m.end() - m.start()
            # same-offset corrections overwrite (BaseCharFilter:88-92:
            # adjacent tags collapse to one entry with the summed diff)
            if offs and offs[-1] == out_off:
                diffs[-1] = cum
            else:
                offs.append(out_off)
                diffs.append(cum)
            last = m.end()
        parts.append(text[last:])
        return ("".join(parts), np.asarray(offs, dtype=np.int64),
                np.asarray(diffs, dtype=np.int64))

    @staticmethod
    def correct_offset(off, offs, diffs):
        """Vectorized BaseCharFilter.correct: off may be an int or array."""
        import numpy as np

        if len(offs) == 0:
            return off
        o = np.asarray(off, dtype=np.int64)
        idx = np.searchsorted(offs, o, side="right") - 1
        d = np.where(idx >= 0, diffs[np.maximum(idx, 0)], 0)
        out = o + d
        return out if out.ndim else int(out)


# ------------------------------------------- WordDelimiterGraphFilter


def word_delimiter_parts(token: str, split_on_case_change: bool = True,
                         split_on_numerics: bool = True,
                         stem_english_possessive: bool = True):
    """WordDelimiterIterator.java:150-212 splitting core: break ``token``
    into sub-word parts at (a) non-alphanumeric delimiter chars (dropped),
    (b) lower→UPPER case transitions ("PowerShot" → Power|Shot), including
    the acronym rule — an UPPER run followed by lower splits before its
    LAST upper char ("NFCCard" → NFC|Card, WordDelimiterIterator.java:189),
    (c) letter↔digit transitions ("j2se" → j|2|se, "SD500" → SD|500), and
    strips a trailing English possessive ("O'Neil's" → O|Neil,
    WordDelimiterIterator.java:226-236 endsWithPossessive).

    Returns ``(parts, is_word)`` where ``is_word[i]`` is False for
    all-digit parts (WordDelimiterGraphFilter.java isWord/isDigit part
    typing, used by GENERATE_WORD_PARTS vs GENERATE_NUMBER_PARTS)."""
    if stem_english_possessive and len(token) >= 2:
        if token[-1] in ("s", "S") and token[-2] in ("'", "’", "ʼ"):
            token = token[:-2]
    parts: list[str] = []
    cur: list[str] = []

    def _kind(c: str) -> int:
        if c.isdigit():
            return 2
        if c.isalpha():
            return 3 if c.isupper() else 1
        return 0  # delimiter

    def _flush():
        if cur:
            parts.append("".join(cur))
            cur.clear()

    prev = 0
    for ch in token:
        k = _kind(ch)
        if k == 0:
            _flush()
            prev = 0
            continue
        if cur:
            if split_on_numerics and ((prev == 2) != (k == 2)) and prev != 0:
                _flush()
            elif split_on_case_change and k == 3 and prev == 1:
                _flush()  # lower → UPPER boundary
            elif (split_on_case_change and k == 1 and prev == 3
                  and len(cur) > 1):
                # UPPER run followed by lower: last upper starts new part
                last = cur.pop()
                _flush()
                cur.append(last)
        cur.append(ch)
        prev = k
    _flush()
    return parts, [not p.isdigit() for p in parts]


def word_delimiter_graph(generate_word_parts: bool = True,
                         generate_number_parts: bool = True,
                         catenate_words: bool = False,
                         catenate_numbers: bool = False,
                         catenate_all: bool = False,
                         preserve_original: bool = False,
                         split_on_case_change: bool = True,
                         split_on_numerics: bool = True,
                         stem_english_possessive: bool = True):
    """WordDelimiterGraphFilter analog
    (miscellaneous/WordDelimiterGraphFilter.java:60-118), FLATTENED: the
    reference emits a token graph (multi-part catenations span several
    positions); this stream filter emits the FlattenGraphFilter-equivalent
    single-position-track stream — generated parts occupy consecutive
    positions, catenations and the preserved original sit at the FIRST
    part's position (posInc=0), and every downstream token's position
    shifts by the expansion.  Runs on the RAW (pre-lowercase) token stream
    via ``Analyzer(graph_filters=...)`` because case-change splitting needs
    the original case (the reference places the filter before
    LowerCaseFilter for the same reason).

    CATENATE_WORDS joins each maximal run of adjacent alpha parts,
    CATENATE_NUMBERS each run of digit parts, CATENATE_ALL the whole
    token's parts (WordDelimiterGraphFilter.java flushConcatenation);
    single-part catenations that duplicate an emitted part are suppressed
    (:328-338 the "don't emit a token twice" guard)."""

    def gf(tokens: list[str], positions: list[int]):
        out_t: list[str] = []
        out_p: list[int] = []
        shift = 0
        for tok, pos in zip(tokens, positions):
            base = pos + shift
            parts, is_word = word_delimiter_parts(
                tok, split_on_case_change, split_on_numerics,
                stem_english_possessive)
            if len(parts) == 1 and parts[0] == tok and not preserve_original:
                out_t.append(tok)
                out_p.append(base)
                continue
            slots = 0
            emitted_at: dict[int, set[str]] = {}

            def _emit(term: str, slot: int):
                seen = emitted_at.setdefault(slot, set())
                if term in seen:
                    return
                seen.add(term)
                out_t.append(term)
                out_p.append(base + slot)

            if preserve_original and parts != [tok]:
                _emit(tok, 0)
                slots = max(slots, 1)
            slot = 0
            for part, w in zip(parts, is_word):
                if (generate_word_parts and w) or \
                   (generate_number_parts and not w):
                    _emit(part, slot)
                    slot += 1
            slots = max(slots, slot, 1)
            if catenate_all and parts:
                _emit("".join(parts), 0)
            if (catenate_words or catenate_numbers) and parts:
                i = 0
                while i < len(parts):
                    w = is_word[i]
                    j = i
                    while j + 1 < len(parts) and is_word[j + 1] == w:
                        j += 1
                    if (w and catenate_words) or (not w and catenate_numbers):
                        _emit("".join(parts[i:j + 1]), 0 if i == 0 else
                              min(i, slots - 1))
                    i = j + 1
            shift += slots - 1
        return out_t, out_p

    return gf


# --------------------------------- KeywordMarker / StemmerOverride


def keyword_marker(keywords, inner):
    """KeywordMarkerFilter (miscellaneous/SetKeywordMarkerFilter.java:31-38)
    composed with its downstream stemmer: protected tokens bypass ``inner``
    entirely (stemmers check KeywordAttribute.isKeyword and skip —
    en/PorterStemFilter.java:48)."""
    kw = frozenset(keywords)

    def f(t: str):
        return t if t in kw else inner(t)

    return f


def stemmer_override(mapping, inner=None):
    """StemmerOverrideFilter (miscellaneous/StemmerOverrideFilter.java:
    39-55): dictionary lookups replace the token AND mark it keyword so the
    downstream stemmer leaves the override alone; unmapped tokens flow to
    ``inner`` (the normal stemmer) unchanged."""
    m = dict(mapping)

    def f(t: str):
        hit = m.get(t)
        if hit is not None:
            return hit
        return inner(t) if inner is not None else t

    return f


# ------------------------------------------------ CommonGramsFilter


def common_grams(common_words, query_mode: bool = False):
    """CommonGramsFilter (commongrams/CommonGramsFilter.java:33-60): emit
    unigrams PLUS a ``w1_w2`` bigram at the first word's position whenever
    either member of an adjacent pair is a common word — high-df stopwords
    stay searchable as precise phrases without positional postings.

    ``query_mode=True`` is CommonGramsQueryFilter (commongrams/
    CommonGramsQueryFilter.java:38-52): bigrams replace the unigrams they
    cover; a unigram survives only when it joined no bigram, so the query
    side matches what the index side stored.

    A stream filter for ``Analyzer(stream_filters=...)`` — pair it with an
    EMPTY stop set (the reference chain puts CommonGrams where StopFilter
    would be; removing the words first would defeat it)."""
    cw = frozenset(common_words)

    def sf(tokens: list[str], positions: list[int]):
        n = len(tokens)
        gram_at = [
            i + 1 < n and positions[i + 1] == positions[i] + 1
            and (tokens[i] in cw or tokens[i + 1] in cw)
            for i in range(n)
        ]
        out_t: list[str] = []
        out_p: list[int] = []
        for i in range(n):
            if query_mode:
                if gram_at[i]:
                    out_t.append(tokens[i] + "_" + tokens[i + 1])
                    out_p.append(positions[i])
                elif not (i > 0 and gram_at[i - 1]):
                    out_t.append(tokens[i])
                    out_p.append(positions[i])
            else:
                out_t.append(tokens[i])
                out_p.append(positions[i])
                if gram_at[i]:
                    out_t.append(tokens[i] + "_" + tokens[i + 1])
                    out_p.append(positions[i])
        return out_t, out_p

    return sf


# --------------------------------------------------- PatternReplace


def pattern_replace(pattern: str, replacement: str = ""):
    """PatternReplaceFilter (pattern/PatternReplaceFilter.java:30-45):
    token-level regex substitution (replaceAll semantics); a token that
    becomes empty is removed (None), matching the filter followed by the
    zero-length drop every consumer applies."""
    import re as _re

    rx = _re.compile(pattern)

    def f(t: str):
        out = rx.sub(replacement, t)
        return out if out else None

    return f


class PatternReplaceCharFilter:
    """PatternReplaceCharFilter (charfilter/PatternReplaceCharFilter.java:
    40-74) with BaseCharFilter offset correction: regex substitution over
    the RAW text before tokenization; each replacement records
    (output_offset, cumulative_net_removed) so ``correct_offset`` maps
    spans over the replaced text back to raw-text offsets — same delta
    machinery as :class:`HTMLStripCharFilter`, diffs may be negative when
    the replacement is longer than the match."""

    def __init__(self, pattern: str, replacement: str = ""):
        import re as _re

        self.rx = _re.compile(pattern)
        self.replacement = replacement

    def __call__(self, text: str) -> str:
        return self.rx.sub(self.replacement, text or "")

    def filter_with_offsets(self, text: str):
        import numpy as np

        text = text or ""
        parts: list[str] = []
        offs: list[int] = []
        diffs: list[int] = []
        cum = 0
        last = 0
        for m in self.rx.finditer(text):
            repl = m.expand(self.replacement)
            parts.append(text[last:m.start()])
            parts.append(repl)
            out_off = m.end() - cum - (m.end() - m.start()) + len(repl)
            cum += (m.end() - m.start()) - len(repl)
            if offs and offs[-1] == out_off:
                diffs[-1] = cum
            else:
                offs.append(out_off)
                diffs.append(cum)
            last = m.end()
        parts.append(text[last:])
        return ("".join(parts), np.asarray(offs, dtype=np.int64),
                np.asarray(diffs, dtype=np.int64))

    correct_offset = staticmethod(HTMLStripCharFilter.correct_offset)


# ----------------------------------------------------- Soundex


_SOUNDEX_CODE = {}
for _chars, _d in (("bfpv", "1"), ("cgjkqsxz", "2"), ("dt", "3"),
                   ("l", "4"), ("mn", "5"), ("r", "6")):
    for _c in _chars:
        _SOUNDEX_CODE[_c] = _d


def soundex(token: str) -> str:
    """American Soundex (the NARA rules the reference's PhoneticFilter gets
    from commons-codec Soundex, analysis/phonetic/PhoneticFilter.java:35):
    first letter kept, consonants coded bfpv→1 cgjkqsxz→2 dt→3 l→4 mn→5
    r→6, adjacent duplicate codes collapse INCLUDING across h/w (the
    'Ashcraft → A261' rule), vowels break duplicate runs, pad/truncate to
    letter + 3 digits.  Non-alphabetic tokens pass through unchanged."""
    letters = [c for c in token.lower() if c.isalpha()]
    if not letters:
        return token
    out = [letters[0].upper()]
    prev = _SOUNDEX_CODE.get(letters[0], "")
    for c in letters[1:]:
        d = _SOUNDEX_CODE.get(c)
        if d is None:
            if c not in "hw":          # vowel (or y): breaks the run
                prev = ""
            continue
        if d != prev:
            out.append(d)
            if len(out) == 4:
                break
        prev = d
    return "".join(out) + "0" * (4 - len(out))


def phonetic_inject(encoder=soundex):
    """PhoneticFilter with inject=true (analysis/phonetic/PhoneticFilter
    .java:35-66): every token also emits its phonetic code at the SAME
    position (posInc=0), so exact and sounds-like queries both match.
    Codes are lowercased to live in the lowercased term space.  A stream
    filter for ``Analyzer(stream_filters=...)``."""

    def sf(tokens: list[str], positions: list[int]):
        out_t: list[str] = []
        out_p: list[int] = []
        for t, p in zip(tokens, positions):
            out_t.append(t)
            out_p.append(p)
            code = encoder(t).lower()
            if code != t:
                out_t.append(code)
                out_p.append(p)
        return out_t, out_p

    return sf


def fingerprint_filter(max_output_token_size: int = 1024, separator: str = " "):
    """FingerprintFilter (analysis/miscellaneous/FingerprintFilter.java:
    38-39,56-70): the whole token stream collapses into ONE output token —
    the sorted, de-duplicated tokens joined by ``separator``; if the
    combined length would exceed ``max_output_token_size`` nothing is
    emitted.  The Solr/ES near-duplicate "fingerprint" key.  Plugs into
    ``Analyzer(stream_filters=...)``."""

    def sf(toks: list[str], poss: list[int]):
        if not toks:
            return [], []
        out = separator.join(sorted(set(toks)))
        if len(out) > max_output_token_size:
            return [], []
        return [out], [0]

    return sf


def limit_token_count(max_token_count: int):
    """LimitTokenCountFilter (miscellaneous/LimitTokenCountFilter.java:36):
    only the first ``max_token_count`` tokens pass (the IndexWriter
    maxFieldLength idiom).  Stream-filter slot."""

    def sf(toks: list[str], poss: list[int]):
        return toks[:max_token_count], poss[:max_token_count]

    return sf


def reverse_string(token: str) -> str:
    """ReverseStringFilter (reverse/ReverseStringFilter.java:58): reverses
    each token — the classic leading-wildcard indexing trick.  Post-filter
    slot."""
    return token[::-1]


def truncate_filter(length: int):
    """TruncateTokenFilter (miscellaneous/TruncateTokenFilter.java:33):
    tokens are chopped to ``length`` chars (crude stemming for
    agglutinative languages).  Post-filter slot."""

    def f(token: str) -> str:
        return token[:length]

    return f


def keyword_repeat_stem(stem):
    """KeywordRepeatFilter + stemmer + RemoveDuplicatesTokenFilter
    (miscellaneous/KeywordRepeatFilter.java:33 emits every token twice,
    once keyword-marked so the stemmer skips it;
    RemoveDuplicatesTokenFilter.java:34 then drops same-position
    duplicates): each position emits the original token and, when
    different, its stem — both searchable.  Stream-filter slot."""

    def sf(toks: list[str], poss: list[int]):
        out_t: list[str] = []
        out_p: list[int] = []
        for t, p in zip(toks, poss):
            out_t.append(t)
            out_p.append(p)
            s = stem(t)
            if s != t:
                out_t.append(s)
                out_p.append(p)
        return out_t, out_p

    return sf


def hyphenated_words(tokens: list[str]) -> list[str]:
    """HyphenatedWordsFilter analog (analysis/miscellaneous/HyphenatedWords
    Filter.java:53-120): a token ending in '-' opens (or extends) a
    hyphenation chain; the chain joins with following tokens until one
    does not end in '-'; the '-' characters themselves are dropped.  A
    chain left open at end-of-stream is emitted as accumulated IF non-empty
    (the reference's exhausted branch guards hyphenated.length() > 0).
    A bare '-' token opens a chain with an empty accumulation, exactly as
    the reference does.  Meant to run over WHITESPACE tokens (the standard
    chain strips '-' before this filter could see it)."""
    out: list[str] = []
    pending = ""
    open_chain = False
    for t in tokens:
        if t.endswith("-"):
            pending += t[:-1]
            open_chain = True
        elif open_chain:
            out.append(pending + t)
            pending = ""
            open_chain = False
        else:
            out.append(t)
    if open_chain and pending:
        out.append(pending)
    return out


def concatenate_graph(tokens: list[str], token_separator: str | None = " ",
                      ) -> list[str]:
    """ConcatenateGraphFilter analog (analysis/miscellaneous/Concatenate
    GraphFilter.java:50-140): concatenates the whole token stream into ONE
    output token, tokens joined by ``token_separator`` (None = no
    separator, :101-104) — the suggester-key builder behind
    CompletionAnalyzer.  The graph flattening the reference does for
    multi-path streams is a no-op for our linear chains."""
    if not tokens:
        return []
    sep = token_separator if token_separator is not None else ""
    return [sep.join(tokens)]


def delimited_term_frequency(delimiter: str = "|"):
    """DelimitedTermFrequencyTokenFilter analog (analysis/miscellaneous/
    DelimitedTermFrequencyTokenFilter.java:30-77): a token ``term|N`` sets
    the term-frequency attribute to N.  A DOCS_AND_FREQS inverter that
    COUNTS occurrences receives identical postings when the token expands
    to N copies — and the field length grows by N exactly as the
    reference's ``invertState.length += termFrequency``.  N must parse and
    be >= 1 (TermFrequencyAttribute contract); custom tf with positions
    is illegal in the reference (IndexOptions must omit positions), and
    the copies here share one position for the same reason.

    Stream-filter slot: pair with the whitespace tokenizer — the standard
    UAX#29 tokenizer would split on the delimiter before this filter ran.
    """

    def stream_filter(tokens, positions):
        out_t: list = []
        out_p: list = []
        for t, p in zip(tokens, positions):
            if delimiter in t:
                term, _, freq = t.rpartition(delimiter)
                n = int(freq)
                if n < 1:
                    raise ValueError(
                        f"Term frequency must be 1 or greater: {t!r}")
                out_t.extend([term] * n)
                out_p.extend([p] * n)
            else:
                out_t.append(t)
                out_p.append(p)
        return out_t, out_p

    return stream_filter


def synonym_inject(mapping: dict):
    """Index-time SynonymFilter (analysis/synonym/SynonymFilter.java:
    the classic index-time mode; SynonymMap single-token rules): every
    token that heads a rule ALSO emits its synonyms at the SAME position
    (posIncrement 0 — the "stacked token" contract), so the synonym is
    searchable with correct phrase/position semantics and each stacked
    token counts toward field length exactly as the reference's
    invertState.length++ per emitted token.

    Single-token→single-token rules only (the multi-word graph cases live
    in the query-time SynonymGraph expansion, search.synonym_graph);
    stream-filter slot, runs on the post-stop emitted stream.
    """
    mp = {k: tuple(v) for k, v in mapping.items()}

    def stream_filter(tokens, positions):
        out_t: list = []
        out_p: list = []
        for t, p in zip(tokens, positions):
            out_t.append(t)
            out_p.append(p)
            for s in mp.get(t, ()):
                out_t.append(s)
                out_p.append(p)
        return out_t, out_p

    return stream_filter


def apostrophe(token: str) -> str:
    """ApostropheFilter (analysis/tr/ApostropheFilter.java:25-55): strips
    everything from the first apostrophe (' or U+2019) on — Turkish
    proper-name suffix separation."""
    for i, c in enumerate(token):
        if c == "'" or c == "’":
            return token[:i]
    return token


def german_normalize(token: str) -> str:
    """GermanNormalizationFilter (analysis/de/GermanNormalizationFilter
    .java:28-107): ß→ss, ä/ö/ü→a/o/u, ae/oe→a/o, ue→u unless following a
    vowel or q — the exact 3-state FSM (N/V/U) of the reference."""
    buf = list(token)
    i = 0
    state = 0  # 0=N ordinary, 1=V vowel-guard, 2=U umlaut (e-deletion)
    while i < len(buf):
        c = buf[i]
        if c in ("a", "o"):
            state = 2
        elif c == "u":
            state = 2 if state == 0 else 1
        elif c == "e":
            if state == 2:
                del buf[i]
                state = 1
                continue
            state = 1
        elif c in ("i", "q", "y"):
            state = 1
        elif c == "ä":
            buf[i] = "a"
            state = 1
        elif c == "ö":
            buf[i] = "o"
            state = 1
        elif c == "ü":
            buf[i] = "u"
            state = 1
        elif c == "ß":
            buf[i] = "s"
            buf.insert(i + 1, "s")
            i += 1
            state = 0
        else:
            state = 0
        i += 1
    return "".join(buf)


def scandinavian_fold(token: str) -> str:
    """ScandinavianFoldingFilter (analysis/miscellaneous/Scandinavian
    FoldingFilter.java:48-122): åäæ→a, öø→o (both cases) and the digraphs
    aa/ae/ao→a, oe/oo→o — the aggressive cross-language fold
    (raksmorgas == räksmörgås)."""
    buf = list(token)
    i = 0
    while i < len(buf):
        c = buf[i]
        if c in ("å", "ä", "æ"):
            buf[i] = "a"
        elif c in ("Å", "Ä", "Æ"):
            buf[i] = "A"
        elif c in ("ø", "ö"):
            buf[i] = "o"
        elif c in ("Ø", "Ö"):
            buf[i] = "O"
        elif i < len(buf) - 1:
            if c in ("a", "A") and buf[i + 1] in ("a", "A", "e", "E", "o", "O"):
                del buf[i + 1]
            elif c in ("o", "O") and buf[i + 1] in ("e", "E", "o", "O"):
                del buf[i + 1]
        i += 1
    return "".join(buf)


def scandinavian_normalize(token: str) -> str:
    """ScandinavianNormalizationFilter (analysis/miscellaneous/Scandinavian
    NormalizationFilter.java:40-130): ä→æ, ö→ø and the typed digraphs
    aa→å, ae→æ, ao→å, oe/oo→ø (both cases) — normalizes the
    interchangeable Norwegian/Danish/Swedish spellings to the native
    single characters (blaabaersyltetoej → blåbærsyltetøj)."""
    buf = list(token)
    i = 0
    while i < len(buf):
        c = buf[i]
        if c == "ä":
            buf[i] = "æ"
        elif c == "Ä":
            buf[i] = "Æ"
        elif c == "ö":
            buf[i] = "ø"
        elif c == "Ö":
            buf[i] = "Ø"
        elif i < len(buf) - 1:
            n = buf[i + 1]
            if c == "a" and n in ("a", "o", "A", "O"):
                del buf[i + 1]
                buf[i] = "å"
            elif c == "A" and n in ("a", "A", "o", "O"):
                del buf[i + 1]
                buf[i] = "Å"
            elif c == "a" and n in ("e", "E"):
                del buf[i + 1]
                buf[i] = "æ"
            elif c == "A" and n in ("e", "E"):
                del buf[i + 1]
                buf[i] = "Æ"
            elif c == "o" and n in ("e", "E", "o", "O"):
                del buf[i + 1]
                buf[i] = "ø"
            elif c == "O" and n in ("e", "E", "o", "O"):
                del buf[i + 1]
                buf[i] = "Ø"
        i += 1
    return "".join(buf)


_REFINED_SOUNDEX_CODE = {}
for _cs, _d in (("bp", "1"), ("fv", "2"), ("cks", "3"), ("gj", "4"),
                ("qxz", "5"), ("dt", "6"), ("l", "7"), ("mn", "8"),
                ("r", "9"), ("aeiouhwy", "0")):
    for _c in _cs:
        _REFINED_SOUNDEX_CODE[_c] = _d


def refined_soundex(token: str) -> str:
    """RefinedSoundex (analysis/phonetic PhoneticFilter with commons-codec
    RefinedSoundex): first letter verbatim, then one digit per letter
    under the 10-class mapping (BP=1 FV=2 CKS=3 GJ=4 QXZ=5 DT=6 L=7 MN=8
    R=9, vowels+HWY=0), adjacent duplicate digits collapsed, NO length
    cap and vowels kept as 0 — the differences from American Soundex that
    make it stricter ('t6036084' style codes)."""
    t = [c for c in token.lower() if c.isalpha()]
    if not t:
        return ""
    out = [token[0].upper()]
    last = None
    for c in t:
        d = _REFINED_SOUNDEX_CODE.get(c)
        if d is None:
            continue
        if d != last:
            out.append(d)
        last = d
    return "".join(out)


def dictionary_compound(dictionary, min_word_size: int = 5,
                        min_subword_size: int = 2,
                        max_subword_size: int = 15,
                        only_longest_match: bool = False):
    """DictionaryCompoundWordTokenFilter (analysis/compound/
    DictionaryCompoundWordTokenFilter.java:63-90, defaults from
    CompoundWordTokenFilterBase.java:31-37): brute-force decomposition of
    Germanic compounds — the ORIGINAL token always passes through, then
    every dictionary subword found at any offset is stacked at the SAME
    position (posIncrement 0, CompoundWordTokenFilterBase.java:93-100).

    Matching is case-insensitive (the reference's CharArraySet ignoreCase
    convention in its tests); the emitted subword text is the original-case
    SLICE of the compound.  Scan order is the reference's: start offsets
    left-to-right, lengths ascending per start; ``only_longest_match``
    keeps only the longest hit per start offset.

    Stream-filter slot (runs on the emitted (tokens, positions) stream);
    decomposition is per token with a broadcast-sized dictionary — no
    shuffle, scale-neutral.
    """
    words = frozenset(w.lower() for w in dictionary)

    def stream_filter(tokens, positions):
        out_t: list = []
        out_p: list = []
        for t, p in zip(tokens, positions):
            out_t.append(t)
            out_p.append(p)
            n = len(t)
            if n < min_word_size:
                continue
            low = t.lower()
            for i in range(0, n - min_subword_size + 1):
                longest = None
                for j in range(min_subword_size, max_subword_size + 1):
                    if i + j > n:
                        break
                    if low[i:i + j] in words:
                        if only_longest_match:
                            longest = t[i:i + j]
                        else:
                            out_t.append(t[i:i + j])
                            out_p.append(p)
                if longest is not None:
                    out_t.append(longest)
                    out_p.append(p)
        return out_t, out_p

    return stream_filter


_GREEK_LOWER = str.maketrans({
    "ς": "σ",                      # final sigma -> sigma
    "Ά": "α", "ά": "α",  # alpha with tonos
    "Έ": "ε", "έ": "ε",  # epsilon with tonos
    "Ή": "η", "ή": "η",  # eta with tonos
    "Ί": "ι", "Ϊ": "ι", "ί": "ι",
    "ϊ": "ι", "ΐ": "ι",  # iota variants
    "Ύ": "υ", "Ϋ": "υ", "ύ": "υ",
    "ϋ": "υ", "ΰ": "υ",  # upsilon variants
    "Ό": "ο", "ό": "ο",  # omicron with tonos
    "Ώ": "ω", "ώ": "ω",  # omega with tonos
    "΢": "ς",                      # reserved (back-compat)
})


def greek_lowercase(token: str) -> str:
    """GreekLowerCaseFilter (analysis/el/GreekLowerCaseFilter.java:48-115):
    lowercase + strip tonos/dialytika diacritics + standardize final sigma
    to sigma.  The special table runs BEFORE the default lowering so the
    capital accented forms fold straight to the bare lowercase letter.
    Use on a chain with lowercase=False (this IS the lowercase stage)."""
    return token.translate(_GREEK_LOWER).lower().translate(_GREEK_LOWER)


def turkish_lowercase(token: str) -> str:
    """TurkishLowerCaseFilter (analysis/tr/TurkishLowerCaseFilter.java:
    39-91): dotted/dotless-i aware lowering, composed AND decomposed —
    I followed by a combining dot above (other non-spacing marks may
    intervene, isBeforeDot :77-86) lowers to 'i' and the dot is removed;
    bare I lowers to dotless 'ı'; composed 'İ' (U+0130) lowers to plain
    'i' (Java's simple per-codepoint toLowerCase, unlike Python's
    str.lower which expands it).  Use with lowercase=False."""
    import unicodedata

    dot = "\u0307"
    s = token
    n = len(s)
    out: list[str] = []
    i_or_after = False
    i = 0
    while i < n:
        ch = s[i]
        i_or_after = (ch == "I" or
                      (i_or_after and unicodedata.category(ch) == "Mn"))
        if i_or_after:
            if ch == dot:          # composed-lowercase mimicry: drop it
                i += 1
                continue
            if ch == "I":
                dotted = False
                for k in range(i + 1, n):
                    if s[k] == dot:
                        dotted = True
                        break
                    if unicodedata.category(s[k]) != "Mn":
                        break
                if dotted:
                    out.append("i")
                else:
                    out.append("\u0131")
                    i_or_after = False
                i += 1
                continue
        out.append("i" if ch == "\u0130" else ch.lower())
        i += 1
    return "".join(out)


_GA_UPPER_VOWELS = frozenset("AEIOUÁÉÍÓÚ")


def irish_lowercase(token: str) -> str:
    """IrishLowerCaseFilter (analysis/ga/IrishLowerCaseFilter.java:35-63):
    n/t prothesis — 'nAthair' -> 'n-athair' (hyphen inserted, prefix
    letter kept) — then lowercase.  Use with lowercase=False."""
    if (len(token) > 1 and token[0] in ("n", "t")
            and token[1] in _GA_UPPER_VOWELS):
        return token[0] + "-" + token[1:].lower()
    return token.lower()


_SR_CYR = "абвгдђежзијклљмнњопрстћуфхцчџш"
_SR_BALD = str.maketrans(dict(zip(
    _SR_CYR,
    ["a", "b", "v", "g", "d", "dj", "e", "z", "z", "i", "j", "k", "l",
     "lj", "m", "n", "nj", "o", "p", "r", "s", "t", "c", "u", "f", "h",
     "c", "c", "dz", "s"])) | {
    "đ": "dj", "ž": "z", "č": "c", "ć": "c", "š": "s"})
_SR_REGULAR = str.maketrans(dict(zip(
    _SR_CYR,
    ["a", "b", "v", "g", "d", "đ", "e", "ž", "z", "i", "j", "k", "l",
     "lj", "m", "n", "nj", "o", "p", "r", "s", "t", "ć", "u", "f", "h",
     "c", "č", "dž", "š"])))


def serbian_normalize(token: str) -> str:
    """SerbianNormalizationFilter (analysis/sr/SerbianNormalizationFilter
    .java:36-175, the 'bald' latin variant): Cyrillic -> bald Latin with
    digraph expansion (ђ->dj, љ->lj, њ->nj, џ->dz) AND Latin diacritic
    folding (đ->dj, ž->z, č/ć->c, š->s)."""
    return token.translate(_SR_BALD)


def serbian_normalize_regular(token: str) -> str:
    """SerbianNormalizationRegularFilter (analysis/sr/
    SerbianNormalizationRegularFilter.java): Cyrillic -> regular Latin
    keeping diacritics (ђ->đ, ж->ž, ћ->ć, ч->č, џ->dž, ш->š); Latin text
    passes through unchanged."""
    return token.translate(_SR_REGULAR)


def keep_word(words, lowercase_match: bool = False):
    """KeepWordFilter (analysis/miscellaneous/KeepWordFilter.java:28-46):
    the inverse of a stop filter — only tokens IN the set survive; removed
    tokens leave a position gap (FilteringTokenFilter semantics, same as
    the stop stage).  Token-filter slot returning None to delete."""
    ws = frozenset(w.lower() for w in words) if lowercase_match \
        else frozenset(words)

    def f(token: str):
        key = token.lower() if lowercase_match else token
        return token if key in ws else None

    return f


def capitalization(only_first_word: bool = True, keep=None,
                   force_first_letter: bool = True, ok_prefix=(),
                   min_word_length: int = 0, max_word_count: int = 2**31 - 1,
                   max_token_length: int = 2**31 - 1):
    """CapitalizationFilter (analysis/miscellaneous/CapitalizationFilter
    .java:66-160): Title-Case normalization for facet display values —
    words inside the token split on whitespace/'.', first word capitalized
    and the rest lowercased (onlyFirstWord), with keep-set passthrough
    (forceFirstLetter still uppercases word 0), okPrefix passthrough,
    minWordLength guard, and the maxWordCount/maxTokenLength bail-outs
    that restore the original token.

    Faithful in-buffer scan port, INCLUDING the reference's ``i++``
    separator quirk (:122-129): after processing a word the char right
    after its separator is skipped, so a second consecutive separator is
    folded into the NEXT word (which therefore starts with the separator
    char and, since toUpperCase(' ')==' ', is not visibly capitalized),
    and a '.' stranded between two separators is processed as a bare
    one-char word that counts toward maxWordCount."""
    keepset = frozenset(keep) if keep else None
    prefixes = tuple(ok_prefix)

    def _up(c: str) -> str:
        u = c.upper()
        return u if len(u) == 1 else c  # Character.toUpperCase is 1:1

    def _low(c: str) -> str:
        l = c.lower()
        return l if len(l) == 1 else c

    def process(buf: list, off: int, length: int, word_count: int) -> None:
        if length < 1:
            return
        w = "".join(buf[off:off + length])
        if only_first_word and word_count > 0:
            for i in range(off, off + length):
                buf[i] = _low(buf[i])
            return
        if keepset is not None and w in keepset:
            if word_count == 0 and force_first_letter:
                buf[off] = _up(buf[off])
            return
        if length < min_word_length:
            return
        for p in prefixes:
            if w.startswith(p):
                return
        buf[off] = _up(buf[off])
        for i in range(off + 1, off + length):
            buf[i] = _low(buf[i])

    def f(token: str) -> str:
        buf = list(token)
        n = len(buf)
        if n < max_token_length:
            word_count = 0
            last_word_start = 0
            i = 0
            while i < n:
                c = buf[i]
                if c <= " " or c == ".":
                    length = i - last_word_start
                    if length > 0:
                        process(buf, last_word_start, length, word_count)
                        word_count += 1
                        last_word_start = i + 1
                        i += 1  # the reference's i++ quirk (see docstring)
                i += 1
            if last_word_start < n:
                process(buf, last_word_start, n - last_word_start,
                        word_count)
                word_count += 1
            if word_count > max_word_count:
                return token
        return "".join(buf)

    return f


def delimited_boost(delimiter: str = "|"):
    """DelimitedBoostTokenFilter analog (analysis/boost/
    DelimitedBoostTokenFilter.java:33-55): a token ``term|f`` carries a
    query-time boost attribute.  The batch stream has no attribute side
    channel, so this returns a stream filter producing the bare terms
    plus a ``collected`` dict of per-term boosts — feed it to
    ``search(..., boosts=...)`` (the BoostAttribute consumer's slot).
    """
    boosts: dict = {}

    def stream_filter(tokens, positions):
        out_t: list = []
        for t in tokens:
            if delimiter in t:
                term, _, val = t.rpartition(delimiter)
                boosts[term] = float(val)
                out_t.append(term)
            else:
                out_t.append(t)
        return out_t, list(positions)

    stream_filter.collected = boosts
    return stream_filter


class TeeSink:
    """TeeSinkTokenFilter analog (analysis/sinks/TeeSinkTokenFilter.java:
    38 — analyze once, feed several consumers).  In the batch model the
    tee is a cached (tokens, positions) pair handed to each sink."""

    def __init__(self, analyzer, text: str):
        self.tokens, self.positions = analyzer.analyze_text(text)

    def new_sink(self):
        return list(self.tokens), list(self.positions)


# --------------------------------------- round-4 analysis/common closures


def codepoint_count_filter(min_len: int, max_len: int):
    """CodepointCountFilter (miscellaneous/CodepointCountFilter.java:30-55):
    keep tokens whose CODEPOINT count is within [min, max] (Python strings
    are codepoint sequences, so len() is already the codepoint count the
    Java version derives from its UTF-16 buffer)."""
    if min_len < 0:
        raise ValueError("minimum length must be greater than or equal to zero")
    if min_len > max_len:
        raise ValueError("maximum length must not be greater than minimum length")

    def f(token: str) -> str | None:
        return token if min_len <= len(token) <= max_len else None

    return f


def date_recognizer(fmt: str = "%m/%d/%Y"):
    """DateRecognizerFilter (miscellaneous/DateRecognizerFilter.java:29-60):
    keep only tokens parseable as a date under ``fmt`` (strptime syntax;
    the reference takes a java.text.DateFormat)."""
    from datetime import datetime

    def f(token: str) -> str | None:
        try:
            datetime.strptime(token, fmt)
            return token
        except ValueError:
            return None

    return f


def drop_if_flagged(tokens_flags, drop_flags: int):
    """DropIfFlaggedFilter (miscellaneous/DropIfFlaggedFilter.java:28-40):
    drop tokens carrying ALL bits of ``drop_flags`` in their flags
    attribute.  Takes (token, flags) pairs, returns surviving tokens."""
    return [t for t, fl in tokens_flags
            if (fl & drop_flags) != drop_flags]


def fix_broken_offsets(offsets):
    """FixBrokenOffsetsFilter (miscellaneous/FixBrokenOffsetsFilter.java:
    44-60): clamp each (start, end) so starts never go backwards and
    end >= start — graph-mangling filters can break both invariants."""
    out = []
    last_start = 0
    for start, end in offsets:
        if start < last_start:
            start = last_start
        if end < start:
            end = start
        out.append((start, end))
        last_start = start
    return out


def limit_token_offset(tokens_offsets, max_start_offset: int):
    """LimitTokenOffsetFilter (miscellaneous/LimitTokenOffsetFilter.java:
    30-55): truncate the stream at the first token whose start offset
    exceeds the limit.  Takes (token, (start, end)) pairs."""
    if max_start_offset < 0:
        raise ValueError("maxStartOffset must be >= zero")
    out = []
    for t, (start, _end) in tokens_offsets:
        if start > max_start_offset:
            break
        out.append(t)
    return out


def limit_token_position(tokens: list[str], max_position: int,
                         positions: list[int] | None = None):
    """LimitTokenPositionFilter (miscellaneous/LimitTokenPositionFilter.
    java:33-70): truncate at the first token whose 1-based position
    exceeds ``max_position``; honors position increments when absolute
    ``positions`` (0-based, StopFilter-style gaps) are supplied."""
    if max_position < 1:
        raise ValueError("maxTokenPosition must be greater than zero")
    out = []
    for i, t in enumerate(tokens):
        pos = (positions[i] + 1) if positions is not None else (i + 1)
        if pos > max_position:
            break
        out.append(t)
    return out


def encode_payload_float(value: float) -> bytes:
    """PayloadHelper.encodeFloat — big-endian IEEE-754 float32, the payload
    byte layout every payload-aware scorer reads back."""
    import struct

    return struct.pack(">f", value)


def numeric_payload(tokens_types, payload: float, type_match: str):
    """NumericPayloadTokenFilter (payloads/NumericPayloadTokenFilter.java:
    30-52): attach the encoded float payload to tokens whose type equals
    ``type_match``.  Takes (token, type) pairs, returns
    (token, payload-bytes-or-None)."""
    enc = encode_payload_float(payload)
    return [(t, enc if ty == type_match else None) for t, ty in tokens_types]


def token_offset_payload(tokens_offsets):
    """TokenOffsetPayloadTokenFilter (payloads/TokenOffsetPayloadToken
    Filter.java:28-47): payload = startOffset (4 bytes BE) + endOffset
    (4 bytes BE)."""
    import struct

    return [(t, struct.pack(">ii", s, e)) for t, (s, e) in tokens_offsets]


def type_as_payload(tokens_types):
    """TypeAsPayloadTokenFilter (payloads/TypeAsPayloadTokenFilter.java:
    28-47): payload = UTF-8 bytes of the type (empty/None types attach
    nothing)."""
    return [(t, ty.encode("utf-8") if ty else None) for t, ty in tokens_types]


def type_as_synonym(tokens_types, prefix: str | None = None,
                    ignore: set | None = None):
    """TypeAsSynonymFilter (miscellaneous/TypeAsSynonymFilter.java:34-90):
    after each token, emit its type (optionally prefixed) as a synonym at
    the same position; types in ``ignore`` emit nothing.  Returns
    (tokens, positions)."""
    out, poss = [], []
    for pos, (t, ty) in enumerate(tokens_types):
        out.append(t)
        poss.append(pos)
        if ty is not None and (ignore is None or ty not in ignore):
            out.append((prefix or "") + ty)
            poss.append(pos)
    return out, poss


def pattern_capture_group(patterns, preserve_original: bool = False):
    """PatternCaptureGroupTokenFilter (pattern/PatternCaptureGroupToken
    Filter.java:60-150): emit every capture group of every pattern as a
    token at the original position, merged across patterns by start
    offset (ties keep pattern order); empty captures and — with
    preserveOriginal — whole-token captures are skipped; a token with no
    captures passes through."""
    import re as _re

    rxs = [_re.compile(p) for p in patterns]

    def f(token: str) -> list[str]:
        seqs = []
        for rx in rxs:
            caps = []
            for m in rx.finditer(token):
                for g in range(1, (rx.groups or 0) + 1):
                    s, e = m.start(g), m.end(g)
                    if s == -1 or s == e:
                        continue
                    if preserve_original and s == 0 and e == len(token):
                        continue
                    caps.append((s, token[s:e]))
            seqs.append(caps)
        # stable merge by current start offset, first pattern wins ties
        idx = [0] * len(seqs)
        merged = []
        while True:
            best = -1
            best_start = None
            for i, caps in enumerate(seqs):
                if idx[i] < len(caps):
                    s = caps[idx[i]][0]
                    if best_start is None or s < best_start:
                        best_start, best = s, i
            if best < 0:
                break
            merged.append(seqs[best][idx[best]][1])
            idx[best] += 1
        if not merged:
            return [token]
        return ([token] if preserve_original else []) + merged

    return f


def pattern_keyword_marker(pattern: str, inner):
    """PatternKeywordMarkerFilter (miscellaneous/PatternKeywordMarker
    Filter.java:33-48): tokens fully matching the pattern are keyword-
    protected from the downstream stemmer ``inner``."""
    import re as _re

    rx = _re.compile(pattern)

    def f(t: str):
        return t if rx.fullmatch(t) else inner(t)

    return f


def pattern_typing(rules):
    """PatternTypingFilter (pattern/PatternTypingFilter.java:38-62): the
    first rule whose pattern FINDS in the term sets type = replaceFirst of
    its template and the rule's flags; later rules don't fire.  ``rules``
    is a list of (pattern, flags, type_template) with $1-style template
    refs.  Takes tokens, returns (token, type, flags) triples (type 'word'
    / flags 0 when no rule fires)."""
    import re as _re

    compiled = [(_re.compile(p), fl,
                 _re.sub(r"\$(\d)", r"\\\1", tmpl)) for p, fl, tmpl in rules]

    def f(token: str):
        for rx, fl, tmpl in compiled:
            m = rx.search(token)
            if m:
                return (token, rx.sub(tmpl, token, count=1), fl)
        return (token, "word", 0)

    return f


def protected_term_filter(protected, inner):
    """ProtectedTermFilter (miscellaneous/ProtectedTermFilter.java:40-56,
    a ConditionalTokenFilter): protected terms bypass the wrapped filter
    chain ``inner`` (which may drop or rewrite); everything else flows
    through it."""
    prot = frozenset(protected)

    def f(t: str):
        return t if t in prot else inner(t)

    return f


def fixed_shingle(tokens: list[str], size: int,
                  positions: list[int] | None = None,
                  offsets: list[tuple[int, int]] | None = None,
                  trailing_positions: int = 0,
                  sep: str = " ", filler: str = "_"):
    """FixedShingleFilter (shingle/FixedShingleFilter.java:47-130) over a
    flat (single-token-per-position) stream: shingles of EXACTLY ``size``
    positions starting at each real token; position holes (stopword gaps,
    including ``trailing_positions`` at stream end) contribute the filler.
    Returns (shingles, start_positions, (start, end) offsets) — the end
    offset is the last REAL token's end, like the reference."""
    if size <= 1 or size > 4:
        raise ValueError(f"Shingle size must be between 2 and 4, got {size}")
    n = len(tokens)
    pos = positions if positions is not None else list(range(n))
    offs = offsets if offsets is not None else [(0, 0)] * n
    by_pos = {p: i for i, p in enumerate(pos)}
    total = (max(pos) + 1 + trailing_positions) if n else 0
    out, out_pos, out_off = [], [], []
    for i, p in enumerate(pos):
        if p + size > total:
            break
        parts, end_off = [], offs[i][1]
        for q in range(p, p + size):
            j = by_pos.get(q)
            if j is None:
                parts.append(filler)
            else:
                parts.append(tokens[j])
                end_off = offs[j][1]
        out.append(sep.join(parts))
        out_pos.append(p)
        out_off.append((offs[i][0], end_off))
    return out, out_pos, out_off


class MappingCharFilter:
    """MappingCharFilter (charfilter/MappingCharFilter.java:36-120 with
    NormalizeCharMap): greedy longest-match single-pass text rewriting
    BEFORE tokenization, with BaseCharFilter offset correction mapping
    token offsets in the rewritten text back to raw-text offsets."""

    def __init__(self, mappings: dict[str, str]):
        if any(not k for k in mappings):
            raise ValueError("cannot match the empty string")
        self.mappings = dict(mappings)
        self._by_len = sorted(self.mappings, key=len, reverse=True)

    def __call__(self, text: str) -> str:
        return self.filter_with_offsets(text or "")[0]

    def filter_with_offsets(self, text: str):
        import numpy as np

        text = text or ""
        out: list[str] = []
        offs: list[int] = []
        diffs: list[int] = []
        cum = 0
        out_len = 0
        i = 0
        n = len(text)
        while i < n:
            for key in self._by_len:
                if text.startswith(key, i):
                    repl = self.mappings[key]
                    out.append(repl)
                    out_len += len(repl)
                    i += len(key)
                    cum += len(key) - len(repl)
                    if offs and offs[-1] == out_len:
                        diffs[-1] = cum
                    else:
                        offs.append(out_len)
                        diffs.append(cum)
                    break
            else:
                out.append(text[i])
                out_len += 1
                i += 1
        return ("".join(out), np.asarray(offs, dtype=np.int64),
                np.asarray(diffs, dtype=np.int64))

    correct_offset = staticmethod(HTMLStripCharFilter.correct_offset)


def flatten_graph(tokens):
    """FlattenGraphFilter (analysis/core/FlattenGraphFilter.java:46-427) —
    convert an incoming token GRAPH (side paths from SynonymGraphFilter /
    WordDelimiterGraphFilter, expressed through posInc/posLength) into a
    flat linear stream suitable for indexing, holding back tokens only
    until every path into an output node is frozen (the reference's
    RollingBuffer lookahead), and remapping each token's position length
    to the OUTPUT node distance.

    ``tokens``: list of (term, pos_inc, pos_len, start_off, end_off) in
    graph order; returns the flattened list in the same shape.  Faithful
    port of the two-node-space algorithm: input nodes accumulate arriving
    tokens and their max destination (:285-312), output nodes map 1+ input
    nodes (:318-338 — a later, tighter edge can STEAL an input node from a
    previously assigned output node), and release (:153-243) emits a
    node's tokens once no in-flight token can still land inside it
    (maxToNode <= inputFrom), with posInc = output-node delta, posLen =
    destination output node − current, and the monotone offset clamps
    (:219-229).  Reference test goldens pinned in
    tests/test_flatten_graph.py.

    Quirk kept: on pathological graphs (a stacked token leaving a node
    whose output slot also carries an empty hole node) this snapshot's
    release loop skips the whole output slot and DROPS the token — the
    Java assert output.inputNodes.size() == 1 only trips with assertions
    enabled (the LUCENE-9963 family, fixed upstream after this snapshot).
    Well-formed SynonymGraph/WordDelimiterGraph output never hits it."""
    inp: dict = {}
    out: dict = {}
    out_max = [0]

    def get_in(pos):
        if pos not in inp:
            inp[pos] = {"tokens": [], "node": -1, "maxToNode": -1,
                        "outputNode": -1, "nextOut": 0}
        return inp[pos]

    def get_out(pos):
        if pos not in out:
            out[pos] = {"inputNodes": [], "node": -1, "nextOut": 0,
                        "startOffset": -1, "endOffset": -1}
        out_max[0] = max(out_max[0], pos)
        return out[pos]

    n0 = get_in(0)
    n0["node"] = 0
    n0["outputNode"] = 0
    o0 = get_out(0)
    o0["node"] = 0
    o0["inputNodes"].append(0)
    o0["startOffset"] = 0

    st = {"inputFrom": -1, "outputFrom": 0, "lastOutputFrom": -1,
          "lastStartOffset": 0, "done": False}
    results: list = []

    def release():
        while st["outputFrom"] < out_max[0]:
            output = get_out(st["outputFrom"])
            if not output["inputNodes"]:
                st["outputFrom"] += 1
                continue
            max_to = -1
            for node_id in output["inputNodes"]:
                max_to = max(max_to, get_in(node_id)["maxToNode"])
            if max_to <= st["inputFrom"] or st["done"]:
                node = get_in(output["inputNodes"][output["nextOut"]])
                if (st["done"] and not node["tokens"]
                        and st["outputFrom"] >= out_max[0]):
                    return False
                if not node["tokens"]:
                    st["outputFrom"] += 1
                    continue
                term, _pi, pos_len, s_off, e_off = node["tokens"][node["nextOut"]]
                pos_inc = st["outputFrom"] - st["lastOutputFrom"]
                to_node = get_in(node["node"] + pos_len)
                new_len = to_node["outputNode"] - st["outputFrom"]
                st["lastOutputFrom"] = st["outputFrom"]
                node["nextOut"] += 1
                end_node = get_out(to_node["outputNode"])
                start = max(st["lastStartOffset"], output["startOffset"])
                end = max(start, end_node["endOffset"])
                st["lastStartOffset"] = start
                results.append((term, pos_inc, new_len, start, end))
                if node["nextOut"] == len(node["tokens"]):
                    output["nextOut"] += 1
                    if output["nextOut"] == len(output["inputNodes"]):
                        st["outputFrom"] += 1
                return True
            return False
        return False

    it = iter(tokens)
    while True:
        if release():
            continue
        if st["done"]:
            break
        tok = next(it, None)
        if tok is None:
            st["done"] = True
            continue
        term, pos_inc, pos_len, s_off, e_off = tok
        st["inputFrom"] += pos_inc
        input_to = st["inputFrom"] + pos_len
        src = get_in(st["inputFrom"])
        if src["node"] == -1:
            src["node"] = st["inputFrom"]
            src["outputNode"] = out_max[0] + 1
            out_src = get_out(src["outputNode"])
            out_src["node"] = src["outputNode"]
            out_src["inputNodes"].append(st["inputFrom"])
            out_src["startOffset"] = s_off
        else:
            out_src = get_out(src["outputNode"])
            if out_src["startOffset"] == -1 or s_off > out_src["startOffset"]:
                out_src["startOffset"] = max(s_off, out_src["startOffset"])
        src["tokens"].append(tok)
        src["maxToNode"] = max(src["maxToNode"], input_to)
        dest = get_in(input_to)
        if dest["node"] == -1:
            dest["node"] = input_to
        output_end = src["outputNode"] + 1
        if output_end > dest["outputNode"]:
            if dest["outputNode"] != -1:
                get_out(dest["outputNode"])["inputNodes"].remove(input_to)
            get_out(output_end)["inputNodes"].append(input_to)
            dest["outputNode"] = output_end
        out_dest = get_out(dest["outputNode"])
        if out_dest["endOffset"] == -1 or e_off < out_dest["endOffset"]:
            out_dest["endOffset"] = e_off
    return results


def _syn_split(s: str, separator: str) -> list[str]:
    """SolrSynonymParser.split (analysis/synonym/SolrSynonymParser.java:
    141-169): split on the separator, a backslash escaping the NEXT char
    (the backslash itself is kept for the later unescape pass)."""
    out: list[str] = []
    sb: list[str] = []
    pos, end = 0, len(s)
    while pos < end:
        if s.startswith(separator, pos):
            if sb:
                out.append("".join(sb))
                sb = []
            pos += len(separator)
            continue
        ch = s[pos]
        pos += 1
        if ch == "\\":
            sb.append(ch)
            if pos >= end:
                break
            ch = s[pos]
            pos += 1
        sb.append(ch)
    if sb:
        out.append("".join(sb))
    return out


def _syn_unescape(s: str) -> str:
    """SolrSynonymParser.unescape (:172-186)."""
    if "\\" not in s:
        return s
    out: list[str] = []
    i = 0
    while i < len(s):
        ch = s[i]
        if ch == "\\" and i < len(s) - 1:
            i += 1
            out.append(s[i])
        else:
            out.append(ch)
        i += 1
    return "".join(out)


def parse_solr_synonyms(text: str, expand: bool = True,
                        analyzer=None) -> list[tuple[tuple, tuple, bool]]:
    """SolrSynonymParser (analysis/synonym/SolrSynonymParser.java:82-139):
    parse the Solr synonyms format into (input_tokens, output_tokens,
    keep_original) rules —

      - ``a, b => c, d``: every input maps to every output, original never
        kept;
      - ``a, b, c`` with expand: all ordered pairs, original kept;
      - without expand: every input (including the first) maps to the
        FIRST input, original not kept (the legacy token-type quirk).

    Empty lines and '#' comments skip; a second '=>' on one line raises.
    ``analyzer``: callable str -> token list (defaults to the standard
    chain WITHOUT stopwords, since synonym sides are analyzed terms);
    multi-token sides produce multi-token tuples (the SynonymMap
    word-separator form)."""
    if analyzer is None:
        from .analysis import analyze as _an

        def analyzer(s):  # noqa: F811 - default analyzer
            return _an(s, set())

    rules: list[tuple[tuple, tuple, bool]] = []
    for line in text.splitlines():
        if not line or line[0] == "#":
            continue
        sides = _syn_split(line, "=>")
        if len(sides) > 1:
            if len(sides) != 2:
                raise ValueError(
                    "more than one explicit mapping specified on the "
                    "same line")
            inputs = [tuple(analyzer(_syn_unescape(x).strip()))
                      for x in _syn_split(sides[0], ",")]
            outputs = [tuple(analyzer(_syn_unescape(x).strip()))
                       for x in _syn_split(sides[1], ",")]
            for inp in inputs:
                for outp in outputs:
                    rules.append((inp, outp, False))
        else:
            inputs = [tuple(analyzer(_syn_unescape(x).strip()))
                      for x in _syn_split(line, ",")]
            if expand:
                for i, a in enumerate(inputs):
                    for j, b in enumerate(inputs):
                        if i != j:
                            rules.append((a, b, True))
            else:
                for a in inputs:
                    rules.append((a, inputs[0], False))
    return rules


def parse_wordnet_synonyms(text: str, expand: bool = True,
                           analyzer=None) -> list[tuple[tuple, tuple, bool]]:
    """WordnetSynonymParser (analysis/synonym/WordnetSynonymParser.java:
    40-103): prolog-format ``s(<9-digit synset>,..,'word',..)`` lines;
    consecutive lines with the same synset id form one synset ('' doubles
    unescape to a single quote), synsets of size <= 1 are dropped, and
    expansion follows the Solr rules (all pairs keep-orig, or everything
    to the first member)."""
    if analyzer is None:
        from .analysis import analyze as _an

        def analyzer(s):  # noqa: F811 - default analyzer
            return _an(s, set())

    rules: list[tuple[tuple, tuple, bool]] = []

    def flush(synset):
        if len(synset) <= 1:
            return
        if expand:
            for i, a in enumerate(synset):
                for j, b in enumerate(synset):
                    if i != j:
                        rules.append((a, b, True))
        else:
            for a in synset:
                rules.append((a, synset[0], False))

    last_id = ""
    synset: list[tuple] = []
    for line in text.splitlines():
        if not line:
            continue
        syn_id = line[2:11]
        if syn_id != last_id:
            flush(synset)
            synset = []
        start = line.index("'") + 1
        end = line.rindex("'")
        word = line[start:end].replace("''", "'")
        synset.append(tuple(analyzer(word)))
        last_id = syn_id
    flush(synset)
    return rules


def synonym_rules_to_mapping(rules) -> dict:
    """Single-token rules → the {term: (synonyms...)} mapping
    ``synonym_inject`` consumes (stacked same-position tokens); rules whose
    output equals the input collapse (the non-expand self-rule), multi-word
    rules route to the graph query builders instead."""
    mp: dict[str, list[str]] = {}
    for inp, outp, _keep in rules:
        if len(inp) == 1 and len(outp) == 1 and inp != outp:
            mp.setdefault(inp[0], [])
            if outp[0] not in mp[inp[0]]:
                mp[inp[0]].append(outp[0])
    return {k: tuple(v) for k, v in mp.items()}
