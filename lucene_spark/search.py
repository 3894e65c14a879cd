"""Query parsing + distributed top-k search over the index tables.

Lifecycle mirrors IndexSearcher.search (lucene/core/.../search/
IndexSearcher.java:470-511,728-753 — traced in SURVEY §3.1):

  1. parse + analyze the query with the same analyzer
     (queryparser/.../classic/QueryParserBase.java:437 getFieldQuery);
  2. rewrite (drop unknown/stopword-only clauses → MatchNoDocs analog);
  3. "createWeight": look up query terms' df/cf in the index's term-statistics
     snapshot (``Index.term_stats``: the whole termdict as sorted columnar
     arrays, collected once per handle and binary-searched on the driver, so
     the lookup launches no Spark job) and build one BM25Scorer per term from
     global stats (TermStates.build reads reader-resident terms dictionaries:
     index/TermStates.java:95; here stats are global by construction);
  4. per-segment execution: postings rows for the query terms are grouped by
     segment and scored by the windowed block-max kernel inside applyInPandas
     — segment == Lucene leaf, executor == searcher thread;
  5. reduce: per-segment top-k merged on the driver with the
     (score desc, docID asc) contract (TopDocs.java:93-120; segments are
     docID ranges so docBase order == docID order).

The driver only ever collects k rows per segment — never postings.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .analysis import ENGLISH_STOP_WORDS, analyze
from .index import Index
from .kernel import segment_topk
from .similarity import SIMILARITIES, BM25Scorer, CollectionStats

# --- query AST + parser ---------------------------------------------------------


_LEX_RE = re.compile(
    r"""\s+
      | (?P<lp>\() | (?P<rp>\))
      | (?P<quoted>"(?:\\.|[^"\\])*"(?:~\d+)?(?:\^\d+(?:\.\d+)?)?)
      | (?P<rangei>\[[^\]]*?\s+TO\s+[^\]]*?\](?:\^\d+(?:\.\d+)?)?)
      | (?P<rangee>\{[^}]*?\s+TO\s+[^}]*?\}(?:\^\d+(?:\.\d+)?)?)
      | (?P<andop>AND\b|&&)
      | (?P<orop>OR\b|\|\|)
      | (?P<notop>NOT\b|!)
      | (?P<plus>\+(?=\S))
      | (?P<minus>-(?=\S))
      | (?P<term>(?:\\.|[^\s()"{}\[\]\\])+)
    """,
    re.VERBOSE,
)

SHOULD, MUST, MUST_NOT = 0, 1, 2


def _lex(q: str) -> list[tuple[str, str]]:
    out, i = [], 0
    while i < len(q):
        m = _LEX_RE.match(q, i)
        if m is None:  # stray ] } " etc. — treat the single char as a term
            out.append(("term", q[i]))
            i += 1
            continue
        i = m.end()
        kind = m.lastgroup
        if kind is not None:
            out.append((kind, m.group()))
    out.append(("eof", ""))
    return out


def _discard_escapes(s: str) -> str:
    """QueryParserBase.discardEscapeChar analog: drop every backslash,
    keeping the escaped character literally."""
    return re.sub(r"\\(.)", r"\1", s)


def _is_escaped(s: str, i: int) -> bool:
    """True when the char at ``s[i]`` is escaped: preceded by an ODD number
    of backslashes (an even run is pairs of escaped literal backslashes, so
    the char itself is unescaped — e.g. in ``foo\\\\^2`` the ``^`` starts a
    real boost suffix after the literal-backslash pair)."""
    n = 0
    j = i - 1
    while j >= 0 and s[j] == "\\":
        n += 1
        j -= 1
    return n % 2 == 1


def _find_unescaped(s: str, chars: str, start: int = 0) -> int:
    """Index of the first unescaped occurrence of any char in ``chars``
    (escape-pairs counted, not single-char lookbehind), or -1."""
    for i in range(start, len(s)):
        if s[i] in chars and not _is_escaped(s, i):
            return i
    return -1


def _strip_suffixes(raw: str) -> tuple[str, float | None, int | None, bool]:
    r"""term[~N][^F] (either order) → (base, boost, fuzzy_edits, had_tilde);
    escaped \^ / \~ are literal term characters, never suffixes (escape
    runs counted pairwise so ``foo\\^2`` — escaped backslash then a real
    boost — still parses as a boost)."""
    boost: float | None = None
    edits: int | None = None
    had_tilde = False
    while True:
        if (m := re.search(r"\^(\d+(?:\.\d+)?)$", raw)) \
                and not _is_escaped(raw, m.start()):
            boost = float(m.group(1))
            raw = raw[: m.start()]
        elif (m := re.search(r"~(\d*)$", raw)) \
                and not _is_escaped(raw, m.start()):
            had_tilde = True
            edits = int(m.group(1)) if m.group(1) else 2  # FuzzyQuery default
            raw = raw[: m.start()]
        else:
            return raw, boost, edits, had_tilde


class _Parser:
    """Classic-QueryParser subset as a real recursive-descent parser
    (reference grammar: queryparser/.../classic/QueryParser.jj; clause-occur
    bookkeeping per QueryParserBase.addClause):

      - bare terms (implicit OR), AND/&&, OR/||, NOT/!, +must, -must_not
      - arbitrary paren nesting
      - "exact phrase", "sloppy phrase"~N, phrase^boost
      - term^boost, fuzzy~N (default 2, transpositions), wild*card / wild?card
      - [a TO b] inclusive / {a TO b} exclusive term ranges
      - field:term / field:(...) — validated against the (single) indexed
        field; other fields match nothing, like an unindexed Lucene field

    Produces the engine AST; multi-term nodes stay *_raw until
    :func:`expand_multiterm` rewrites them against a concrete index.
    """

    def __init__(self, q: str, default_field: str = "text", fields=None):
        self.toks = _lex(q)
        self.pos = 0
        self.default_field = default_field
        # known NON-default indexed fields (multi-field index); a field:
        # prefix naming one of these wraps its atom in a ("field", f, sub)
        # node, rewritten to namespaced terms by rewrite()
        self.fields = set(fields or ())

    def peek(self):
        return self.toks[self.pos]

    def next(self):
        # clamp at the eof sentinel: `field:` at end-of-input recurses into
        # _parse_atom which must keep seeing eof, never run off the list
        t = self.toks[self.pos]
        if t[0] != "eof":
            self.pos += 1
        return t

    def parse(self) -> tuple:
        node = self._parse_level()
        return node if node is not None else ("match_none",)

    def _parse_level(self) -> tuple | None:
        clauses: list[tuple[int, tuple]] = []
        next_occur: int | None = None
        pending_and = False
        while True:
            kind, text = self.peek()
            if kind in ("eof", "rp"):
                break
            if kind == "andop":
                self.next()
                # promote the previous SHOULD clause to MUST (addClause)
                if clauses and clauses[-1][0] == SHOULD:
                    clauses[-1] = (MUST, clauses[-1][1])
                pending_and = True
                continue
            if kind == "orop":
                self.next()
                pending_and = False
                continue
            if kind == "notop" or kind == "minus":
                self.next()
                next_occur = MUST_NOT
                continue
            if kind == "plus":
                self.next()
                next_occur = MUST
                continue
            atom = self._parse_atom()
            if atom is None:
                continue
            occur = next_occur if next_occur is not None else (
                MUST if pending_and else SHOULD
            )
            clauses.append((occur, atom))
            next_occur = None
            pending_and = False
        return self._combine(clauses)

    def _parse_atom(self) -> tuple | None:
        kind, text = self.next()
        if kind == "lp":
            node = self._parse_level()
            if self.peek()[0] == "rp":
                self.next()
            boost = self._paren_boost()
            if node is not None and boost is not None:
                node = ("boost", node, boost)
            return node
        if kind == "quoted":
            return self._phrase_node(text)
        if kind in ("rangei", "rangee"):
            return self._range_node(text, inclusive=(kind == "rangei"))
        if kind == "term":
            return self._term_node(text)
        return None

    def _paren_boost(self) -> float | None:
        # `(...)^2` — the boost rides the next token as a bare `^2` term
        kind, text = self.peek()
        if kind == "term" and re.fullmatch(r"\^\d+(\.\d+)?", text):
            self.next()
            return float(text[1:])
        return None

    def _phrase_node(self, text: str) -> tuple | None:
        boost = None
        if (m := re.search(r"\^(\d+(?:\.\d+)?)$", text)):
            boost = float(m.group(1))
            text = text[: m.start()]
        slop = 0
        if (m := re.search(r"~(\d+)$", text)):
            slop = int(m.group(1))
            text = text[: m.start()]
        body = _discard_escapes(text[1:-1])
        node = ("phrase_raw", body, slop) if slop else ("phrase_raw", body)
        return ("boost", node, boost) if boost is not None else node

    def _range_node(self, text: str, inclusive: bool) -> tuple:
        boost = None
        if (m := re.search(r"\^(\d+(?:\.\d+)?)$", text)):
            boost = float(m.group(1))
            text = text[: m.start()]
        lo, hi = re.match(r"[\[{](.*?)\s+TO\s+(.*?)[\]}]$", text).groups()
        lo = None if lo.strip() in ("*", "") else lo.strip().lower()
        hi = None if hi.strip() in ("*", "") else hi.strip().lower()
        node = ("range_raw", lo, hi, inclusive, inclusive)
        return ("boost", node, boost) if boost is not None else node

    def _term_node(self, text: str) -> tuple | None:
        field = None
        if (ci := _find_unescaped(text, ":")) >= 0:
            field, rest = text[:ci], text[ci + 1:]
            field = _discard_escapes(field)
            if rest == "":
                # `field:(...)` / `field:"..."` — field applies to next atom
                atom = self._parse_atom()
                if field == self.default_field:
                    return atom
                if field in self.fields and atom is not None:
                    return ("field", field, atom)
                return ("match_none",)
            text = rest
            if field == self.default_field:
                field = None
            elif field not in self.fields:
                # unindexed field: nothing matches (Lucene: empty postings)
                return ("match_none",)
        base, boost, edits, had_tilde = _strip_suffixes(text)
        if not base:
            return None
        if _find_unescaped(base, "*?") >= 0:
            # lowercase like Lucene's lowercase_expanded_terms default;
            # escaped \* / \? stay literal characters (discardEscapeChar),
            # escape runs counted pairwise so \\* is a real wildcard after
            # a literal backslash
            low = base.lower()
            pat = "".join(
                ("%" if c == "*" else "_") if c in "*?"
                and not _is_escaped(low, i) else c
                for i, c in enumerate(low)
            )
            node: tuple = ("wildcard_raw", _discard_escapes(pat))
        elif had_tilde:
            node = ("fuzzy_raw", _discard_escapes(base.lower()), min(edits, 2), 0)
        else:
            node = ("term", _discard_escapes(base))
        if field is not None:
            node = ("field", field, node)
        return ("boost", node, boost) if boost is not None else node

    def _combine(self, clauses: list[tuple[int, tuple]]) -> tuple | None:
        live = [(o, n) for o, n in clauses if n is not None]
        must = [n for o, n in live if o == MUST and n[0] != "match_none"]
        must_dead = any(o == MUST and n[0] == "match_none" for o, n in live)
        should = [n for o, n in live if o == SHOULD and n[0] != "match_none"]
        negs = [n for o, n in live if o == MUST_NOT and n[0] != "match_none"]
        if must_dead:
            return ("match_none",)
        req: tuple | None = None
        if len(must) == 1:
            req = must[0]
        elif len(must) > 1:
            if all(n[0] == "term" for n in must):
                req = ("and", [n[1] for n in must])
            else:
                req = ("andn", must)
        if req is not None and should:
            pos = (
                ("reqopt", req, [n[1] for n in should])
                if all(n[0] == "term" for n in should)
                else ("reqoptn", req, should)
            )
        elif req is not None:
            pos = req
        elif len(should) == 1:
            pos = should[0]
        elif should:
            pos = ("or", should)
        else:
            pos = None
        if negs:
            if pos is None:
                return ("match_none",)  # pure-negative query (Lucene: no hits)
            if all(n[0] == "term" for n in negs):
                return ("not", pos, [n[1] for n in negs])
            return ("notn", pos, negs)
        return pos


def parse_query(q: str, default_field: str = "text", fields=None) -> tuple:
    """Parse classic QueryParser syntax (see :class:`_Parser`) into the
    engine AST with RAW terms; call :func:`rewrite` to analyze them and
    :func:`expand_multiterm` to expand fuzzy/wildcard/range nodes against an
    index.  ``fields``: known non-default field names of a multi-field index
    (field:term routes there instead of matching nothing)."""
    return _Parser(q, default_field, fields).parse()


class _PrecedenceParser(_Parser):
    """PrecedenceQueryParser (queryparser/flexible/precedence/
    PrecedenceQueryParser.java + BooleanModifiersQueryNodeProcessor):
    unlike the classic parser, AND binds tighter than OR, and OR binds
    tighter than juxtaposition — 'A AND B OR C AND D' groups as
    (+A +B) (+C +D) (TestPrecedenceQueryParser.testPrecedence).  Explicit
    +/-/NOT modifiers stick to their atom through the grouping."""

    def __init__(self, q, default_field="text", fields=None,
                 operator: str = "or"):
        super().__init__(q, default_field, fields)
        self.default_must = operator == "and"

    def _parse_level(self) -> tuple | None:
        items: list[list] = []  # [connector, explicit_occur, node]
        next_occur = None
        connector = None
        while True:
            kind, _text = self.peek()
            if kind in ("eof", "rp"):
                break
            if kind == "andop":
                self.next()
                connector = "and"
                continue
            if kind == "orop":
                self.next()
                connector = "or"
                continue
            if kind in ("notop", "minus"):
                self.next()
                next_occur = MUST_NOT
                continue
            if kind == "plus":
                self.next()
                next_occur = MUST
                continue
            atom = self._parse_atom()
            if atom is None:
                next_occur = None
                continue
            items.append([connector, next_occur, atom])
            next_occur = None
            connector = None
        if not items:
            return None
        # 1) AND runs → MUST groups (explicit modifiers win)
        and_groups: list[list] = []
        for it in items:
            if it[0] == "and" and and_groups:
                and_groups[-1].append(it)
            else:
                and_groups.append([it])
        or_units: list[list] = []
        for g in and_groups:
            if len(g) == 1:
                or_units.append([g[0][0], g[0][1], g[0][2]])
            else:
                clauses = [(it[1] if it[1] is not None else MUST, it[2])
                           for it in g]
                or_units.append([g[0][0], None, self._combine(clauses)])
        # 2) OR runs → SHOULD groups
        or_groups: list[list] = []
        for u in or_units:
            if u[0] == "or" and or_groups:
                or_groups[-1].append(u)
            else:
                or_groups.append([u])
        default_occur = MUST if self.default_must else SHOULD
        top: list[tuple[int, tuple]] = []
        for g in or_groups:
            if len(g) == 1:
                occ = g[0][1] if g[0][1] is not None else default_occur
                top.append((occ, g[0][2]))
            else:
                clauses = [(it[1] if it[1] is not None else SHOULD, it[2])
                           for it in g]
                top.append((default_occur, self._combine(clauses)))
        if len(top) == 1 and top[0][0] != MUST_NOT:
            return top[0][1]
        return self._combine(top)


def precedence_parse(q: str, default_field: str = "text", fields=None,
                     operator: str = "or") -> tuple:
    """Parse with PrecedenceQueryParser semantics (AND > OR >
    juxtaposition); same AST contract as :func:`parse_query`."""
    return _PrecedenceParser(q, default_field, fields, operator).parse()


_QP_SPECIAL = set('\\+-!():^[]"{}~*?|&/')


def escape_query(s: str) -> str:
    """QueryParserBase.escape (classic/QueryParserBase.java:793-805): every
    syntax character gets a backslash (incl. '&' and '|' though only the
    doubled forms are operators)."""
    return "".join("\\" + c if c in _QP_SPECIAL else c for c in s)


class Extensions:
    """queryparser/ext Extensions registry (ext/Extensions.java:39-150):
    maps extension keys to parser-extension callables, owns the
    extension-field delimiter, and splits/builds ``field<delim>key``
    strings.  An extension callable takes (parser, field, raw_text) —
    ``field`` already resolved against the default field — and returns an
    engine AST node (the ParserExtension.parse(ExtensionQuery) analog)."""

    DEFAULT_EXTENSION_FIELD_DELIMITER = ":"

    def __init__(self, delimiter: str = DEFAULT_EXTENSION_FIELD_DELIMITER):
        self.delimiter = delimiter
        self._ext: dict[str, object] = {}

    def add(self, key: str, extension) -> None:
        self._ext[key] = extension

    def get_extension(self, key: str):
        return self._ext.get(key)

    def split_extension_field(self, default_field: str,
                              field: str) -> tuple[str, str | None]:
        """Split on the FIRST delimiter occurrence; no delimiter → no
        extension key; delimiter at position 0 → the default field
        (Extensions.java:105-111)."""
        i = field.find(self.delimiter)
        if i < 0:
            return field, None
        return (default_field if i == 0 else field[:i]), field[i + 1:]

    def escape_extension_field(self, extfield: str) -> str:
        return escape_query(extfield)

    def build_extension_field(self, extension_key: str,
                              field: str = "") -> str:
        """field + delimiter + key, the JOINED string escaped — so the
        delimiter itself rides escaped inside the classic field token and
        only the field:term separator stays live
        (Extensions.java:156-161)."""
        return self.escape_extension_field(
            field + self.delimiter + extension_key)


class _ExtendableParser(_Parser):
    """ExtendableQueryParser (ext/ExtendableQueryParser.java:66-116): the
    classic parser with a getFieldQuery hook — when the (unescaped) field
    prefix splits into ``field<delim>key`` and ``key`` names a registered
    extension, the extension builds the node from the raw (unescaped) term
    or quoted-phrase text.  Like the reference, wildcard/fuzzy atoms go
    through getWildcardQuery/getFuzzyQuery, which extensions do not
    intercept.  Documented divergence: `extfield:(...)` groups fall back to
    the classic unknown-field path here, whereas the reference re-enters
    getFieldQuery per inner term with the extension field attached."""

    def __init__(self, q, default_field="text", fields=None,
                 extensions: Extensions | None = None):
        super().__init__(q, default_field, fields)
        self.extensions = extensions or Extensions()

    def _ext_for(self, raw_field: str):
        f, key = self.extensions.split_extension_field(
            self.default_field, raw_field)
        if key is None:
            return None, None
        return f, self.extensions.get_extension(key)

    def _apply_boost(self, node, boost):
        if node is None:
            return None
        return ("boost", node, boost) if boost is not None else node

    def _term_node(self, text: str) -> tuple | None:
        if (ci := _find_unescaped(text, ":")) >= 0:
            f, ext = self._ext_for(_discard_escapes(text[:ci]))
            if ext is not None:
                rest = text[ci + 1:]
                if rest == "":
                    # `field<delim>ext:"..."` — the quoted text reaches the
                    # extension raw (getFieldQuery(field, text, quoted=true))
                    kind, t2 = self.peek()
                    if kind == "quoted":
                        self.next()
                        boost = None
                        if (m := re.search(r"\^(\d+(?:\.\d+)?)$", t2)):
                            boost = float(m.group(1))
                            t2 = t2[: m.start()]
                        t2 = re.sub(r"~(\d+)$", "", t2)
                        body = _discard_escapes(t2[1:-1])
                        return self._apply_boost(ext(self, f, body), boost)
                    return super()._term_node(text)
                base, boost, _edits, had_tilde = _strip_suffixes(rest)
                if had_tilde or _find_unescaped(base, "*?") >= 0 or not base:
                    return super()._term_node(text)
                return self._apply_boost(
                    ext(self, f, _discard_escapes(base)), boost)
        return super()._term_node(text)


def extendable_parse(q: str, extensions: Extensions,
                     default_field: str = "text", fields=None) -> tuple:
    """ExtendableQueryParser.parse: classic syntax plus
    ``field<delim>extkey:text`` extension fields (the field side escaped
    with :meth:`Extensions.build_extension_field`); same AST contract as
    :func:`parse_query`."""
    return _ExtendableParser(q, default_field, fields, extensions).parse()


def multi_phrase(members: list) -> tuple:
    """MultiPhraseQuery builder: ``members`` is a list of positions, each a
    term or a list of alternative terms (MultiPhraseQuery.Builder.add(Term[]),
    search/MultiPhraseQuery.java:92-118).  Exact matching only — Lucene's
    sloppy multi-phrase (UnionPostingsEnum + SloppyPhraseMatcher) is not
    implemented."""
    return ("mphrase_raw", list(members))


def ngram_phrase_rewrite(members: list[tuple[str, int]], n: int) -> tuple:
    """NGramPhraseQuery.rewrite (core/search/NGramPhraseQuery.java:44-71):
    a 0-slop phrase whose terms are n-grams at consecutive positions is
    match-identical when only every n-th term plus the last is kept (the
    dropped grams are implied by the overlap), cutting postings reads by
    ~1/n.  Optimizable only when n >= 2, >= 3 terms, and positions are
    consecutive; the kept terms re-index at their original offsets so the
    relative gaps are preserved.  Returns a ("phrase", members) node."""
    positions = [p for _, p in members]
    optimizable = (
        n >= 2 and len(members) >= 3
        and all(positions[i] == positions[i - 1] + 1
                for i in range(1, len(members)))
    )
    if not optimizable:
        return ("phrase", list(members))
    kept = [(t, i) for i, (t, _p) in enumerate(members)
            if i % n == 0 or i == len(members) - 1]
    return ("phrase", kept)


def indri_and_docs(index: "Index", terms: list[str]) -> "DataFrame":
    """IndriAndQuery (core/search/IndriAndQuery.java + IndriAndScorer.java:
    24-52): clauses iterate as a DISJUNCTION (IndriDisjunctionScorer's
    DisjunctionDISIApproximation), and the doc score is the boost-weighted
    mean of sub-scores — but the weighted mean only counts sub-scorers that
    are IndriScorer instances (IndriAndScorer.java:30 instanceof check), and
    in this snapshot no leaf scorer extends IndriScorer (TermScorer does
    not), so boostSum == 0 and every matching doc scores 0
    (IndriAndScorer.java:48-50).  The reference's own TestIndriAndQuery
    asserts only hit COUNTS for exactly this reason.  Faithful analog:
    the disjunctive match set, constant score 0, docID order.  (A
    single-clause IndriAndQuery returns the clause's scorer unwrapped —
    IndriAndWeight.java:getScorer — i.e. a plain term query.)"""
    return match_any_docs(index, terms)


def graph_boolean_query(graph_tokens, operator: str = "should",
                        auto_phrase: bool = False) -> tuple:
    """QueryBuilder.analyzeGraphBoolean (core/util/QueryBuilder.java:
    505-570): a token GRAPH (multi-word synonyms from SynonymGraphFilter,
    as (term, posInc, posLen) tuples) splits at its articulation points;
    each segment becomes

      - with side paths: the SHOULD-disjunction of its finite strings
        (newGraphSynonymQuery :640-650, unwrapped when single), each path
        built with MUST over its tokens — a phrase instead when
        ``auto_phrase`` (setAutoGenerateMultiTermSynonymsPhraseQuery;
        default false, :63)
      - without: a term, or a SynonymQuery over stacked tokens,

    and the segments combine under ``operator`` ("must" = AND semantics,
    "should" = OR — the createBooleanQuery default operator)."""
    from .graphts import GraphTokenStream

    g = GraphTokenStream(graph_tokens)
    points = g.articulation_points()
    segments: list[tuple] = []
    last = 0
    for i in range(len(points) + 1):
        start = last
        end = points[i] if i < len(points) else None
        last = end
        if g.has_side_path(start):
            paths = []
            for p in g.finite_strings(start, end):
                if len(p) == 1:
                    paths.append(("term", p[0][0]))
                elif auto_phrase:
                    pos = 0
                    members = []
                    for term, inc in p:
                        pos += inc
                        members.append((term, pos - p[0][1]))
                    paths.append(("phrase", members))
                else:
                    paths.append(("and", [t for t, _ in p]))
            seg = paths[0] if len(paths) == 1 else ("or", paths)
        else:
            terms = g.terms(start)
            seg = ("term", terms[0]) if len(terms) == 1 else ("syn", terms)
        segments.append(seg)
    if len(segments) == 1:
        return segments[0]
    if operator == "must":
        return ("andn", segments)
    return ("or", segments)


def graph_phrase_query(graph_tokens, slop: int = 0) -> tuple:
    """QueryBuilder.analyzeGraphPhrase (core/util/QueryBuilder.java:
    470-496, the 9.0 snapshot's finite-strings form): every finite string
    of the synonym graph becomes a phrase with the given slop (a term when
    single-token; position increments — stopword holes — preserved), and
    the paths combine as a SHOULD disjunction."""
    from .graphts import GraphTokenStream

    g = GraphTokenStream(graph_tokens)
    paths: list[tuple] = []
    for p in g.finite_strings():
        if len(p) == 1:
            paths.append(("term", p[0][0]))
            continue
        pos = -1
        members = []
        for term, inc in p:
            pos += inc
            members.append((term, pos))
        base = members[0][1]
        members = [(t, q - base) for t, q in members]
        paths.append(("sloppy", members, slop) if slop > 0
                     else ("phrase", members))
    if not paths:
        return ("match_none",)
    return paths[0] if len(paths) == 1 else ("or", paths)


def phrase_wildcard_query(
    index: "Index",
    members: list,
    max_expansions: int | None = None,
) -> tuple:
    """PhraseWildcardQuery analog (sandbox/search/PhraseWildcardQuery.java:
    60-75 — "A generalized version of PhraseQuery, built with one or more
    MultiTermQuery that provides term expansions for multi-terms (one of
    the expanded terms must match)"): phrase members containing ``*`` or
    ``?`` expand against the term dictionary (the segment-based expansion
    of the reference collapses to one pushdown LIKE scan here), then the
    phrase executes as a MultiPhraseQuery — each expanded position is a
    union of postings.

    ``members``: list of terms in phrase order; any member with a wildcard
    becomes the list of its expansions (a member expanding to nothing →
    MatchNoDocs, like an empty MultiTermQuery position).
    """
    max_exp = max_expansions or MAX_EXPANSIONS
    out: list = []
    for m in members:
        if isinstance(m, str) and ("*" in m or "?" in m):
            like = m.replace("*", "%").replace("?", "_")
            terms = expand_terms(index, like=like, max_expansions=max_exp)
            if not terms:
                return ("match_none",)
            out.append(terms if len(terms) > 1 else terms[0])
        else:
            out.append(m)
    return ("mphrase_raw", out)


MAX_VARIANTS_PER_TERM = 50  # FuzzyLikeThisQuery.java:73


def fuzzy_like_this(
    index: "Index",
    text: str,
    max_edits: int = 1,
    prefix_length: int = 0,
    max_num_terms: int = 25,
    ignore_tf: bool = False,
    analyzer=ENGLISH_STOP_WORDS,
    precision: str = "float64",
) -> tuple | None:
    """FuzzyLikeThisQuery analog (sandbox/queries/FuzzyLikeThisQuery.java:
    64-337) — "fuzzifies" ALL terms of a free-text query:

    - per input term: Damerau variants within ``max_edits``/``prefix_length``
      (FuzzyTermsEnum, transpositions=true :213), best
      MAX_VARIANTS_PER_TERM=50 by the FuzzyTermsEnum boost
      1 − ed/min(|var|, |term|) (:224-234);
    - the source term's df is shared by all its variants; when the source
      is unindexed, the INTEGER average of the variant dfs stands in
      (:238-243);
    - variant score = boost² · ClassicSimilarity.idf(df, N)
      = boost² · (ln((N+1)/(df+1)) + 1)   (:250);
    - the best ``max_num_terms`` variants across all source terms survive
      (:287-292; ties broken by term asc here — the reference's PQ leaves
      them unspecified);
    - query = SHOULD-of-SHOULDs of the variants, each a TermQuery BOOSTED
      by its score and scored against ARTIFICIAL df=1/ttf=1 statistics
      (newTermQuery :261-279) — or constant-score when ``ignore_tf``
      (:262-264).  BooleanQuery SHOULD sums, so the nested shape flattens
      to one OR here.

    Returns an executable AST (scorers attached — the df=1 override can't
    ride the normal attach path) or None when nothing survives.
    """
    from .similarity import BM25Scorer, CollectionStats

    stats = CollectionStats(index.doc_count, index.sum_total_term_freq)
    n = index.doc_count
    seen: set[str] = set()
    all_variants: list[tuple[float, str]] = []  # (score, variant term)
    for t in analyze(text, analyzer):
        if t in seen:
            continue  # processedTerms de-dup (:205-206)
        seen.add(t)
        cand = expand_terms(index, fuzzy=(t, max_edits, prefix_length))
        if not cand:
            continue
        dfs = term_dfs(list(set(cand) | {t}), index)
        scored = []
        for v in cand:
            ed = damerau_levenshtein(v, t, max_edits)
            boost = 1.0 if ed == 0 else 1.0 - ed / min(len(v), len(t))
            scored.append((boost, v))
        scored.sort(key=lambda p: (-p[0], p[1]))
        scored = scored[:MAX_VARIANTS_PER_TERM]
        df_src = dfs.get(t, 0)
        if df_src == 0:
            # totalVariantDocFreqs / numVariants over ALL enumerated
            # variants (FuzzyLikeThisQuery.addTerms :238-243 accumulates
            # while iterating, BEFORE the variantsQ top-50 truncation)
            df_src = sum(dfs.get(v, 0) for v in cand) // len(cand)
        idf = math.log((n + 1) / (df_src + 1.0)) + 1.0
        for boost, v in scored:
            all_variants.append((boost * boost * idf, v))
    if not all_variants:
        return None
    all_variants.sort(key=lambda p: (-p[0], p[1]))
    kept = all_variants[:max_num_terms]
    if ignore_tf:
        subs = [("const", [v], float(sc)) for sc, v in kept]
        return subs[0] if len(subs) == 1 else ("or", subs)
    return (
        "scored_or",
        [
            (v, BM25Scorer(1, stats, boost=float(sc), precision=precision))
            for sc, v in kept
        ],
    )


def parse_complex_phrase(index: "Index", query: str, fields=None) -> tuple:
    """ComplexPhraseQueryParser analog (queryparser/src/java/org/apache/
    lucene/queryparser/complexPhrase/ComplexPhraseQueryParser.java:47-60 —
    "performs potentially multiple passes over Query text to parse any
    nested logic in PhraseQueries ... e.g. \\"(john jon jonathan~) peters*\\"):
    the classic syntax, with QUOTED PHRASES allowed to contain wildcard
    members — each such member expands against the term dictionary and the
    phrase executes as a MultiPhraseQuery (the reference rewrites the inner
    queries' spans; in this engine the union-position phrase kernel IS that
    rewrite for the wildcard/prefix subset; fuzzy-in-phrase and
    boolean-in-phrase are out of scope and parse as literals).

    Implementation: parse with the classic parser, then rewrite every
    ``phrase_raw`` whose text contains ``*``/``?`` via
    :func:`phrase_wildcard_query`."""
    node = parse_query(query, fields=fields or [])

    def walk(n):
        if not isinstance(n, tuple):
            return n
        kind = n[0]
        if kind == "phrase_raw" and ("*" in n[1] or "?" in n[1]):
            members = [t.lower() for t in n[1].split()]
            out = phrase_wildcard_query(index, members)
            if len(n) > 2 and out[0] == "mphrase_raw":
                # slop on a wildcard phrase is unsupported (the sloppy
                # kernel takes plain members) — exact only, like the
                # engine's MultiPhraseQuery
                raise ValueError(
                    "slop is not supported on wildcard phrases"
                )
            return out
        if kind in ("and", "msm", "syn", "const", "term"):
            return n
        if kind in ("or", "andn", "dismax"):
            return (kind, [walk(c) for c in n[1]]) + tuple(n[2:])
        if kind in ("notn", "reqoptn"):
            return (kind, walk(n[1]), [walk(c) for c in n[2]])
        if kind in ("not", "reqopt"):
            return (kind, walk(n[1]), n[2])
        if kind == "boost":
            return ("boost", walk(n[1]), n[2])
        return n

    return walk(node)


def combined_field_score(
    index: "Index",
    term: str,
    weights: dict[str, float],
    k1: float = 1.2,
    b: float = 0.75,
    default_field: str = "text",
) -> DataFrame:
    """CombinedFieldQuery analog (sandbox/search/CombinedFieldQuery.java —
    BM25F: "pretends there is a synthetic combined field", :72): one term
    scored against the weighted union of fields —

      freq(doc) = Σ_f w_f · freq_f(doc)            (CombinedFieldScorer
                                                    .freq, :450-459)
      dl(doc)   = Σ_f w_f · dl_f(doc)              (MultiNormsLeafSimScorer
                                                    .java:59-95 sums weighted
                                                    decoded norms; this
                                                    engine's float64 mode
                                                    uses exact lengths
                                                    instead of the byte4
                                                    re-quantization)
      df        = max_f df_f;  ttf = Σ_f w_f·ttf_f  (:292-309)
      docCount  = max_f docCount_f; sumTotalTermFreq = Σ_f w_f·sttf_f
                                                     (:317-334)

    Per-field weights must be >= 1 (Builder.addField, :115-118).  Requires a
    multi-field index built with per-field dl tables (``Index.field_docs``).
    Returns (docid, score) for every matching doc, distributed.

    Plan shape: one isin-pruned postings scan decodes weighted freqs (hit-
    sized output), the combined dl is a narrow scan of docs + field_docs
    with the hit set BROADCAST onto it — no corpus shuffle.
    """
    for f, w in weights.items():
        if w < 1:
            raise ValueError(
                f"weight must be >= 1, got {w} for field {f!r} "
                "(CombinedFieldQuery.Builder.addField)"
            )
        if f != default_field and (index.field_docs or {}).get(f) is None:
            raise ValueError(
                f"index has no per-field dl table for {f!r} — rebuild with "
                "build_multifield_index (field_docs)"
            )
    names = {
        f: (term if f == default_field else f"{f}:{term}") for f in weights
    }
    spark = index.postings.sparkSession
    dfs = term_dfs(list(names.values()), index)
    if not dfs:
        return spark.createDataFrame([], "docid long, score double")
    df_pseudo = max(dfs.values())
    fstats = {default_field: (index.doc_count, index.sum_total_term_freq)}
    for f, (dc, st) in (index.field_stats or {}).items():
        fstats[f] = (int(dc), int(st))
    n_pseudo = max(fstats[f][0] for f in weights)
    sttf_pseudo = sum(weights[f] * fstats[f][1] for f in weights)
    avgdl = sttf_pseudo / float(n_pseudo)
    idf = math.log(1.0 + (n_pseudo - df_pseudo + 0.5) / (df_pseudo + 0.5))

    seg_size = index.seg_size
    wmap = {v: float(weights[f]) for f, v in names.items()}
    rows = index.postings.filter(F.col("term").isin(list(names.values())))

    def decode(batches):
        from .kernel import TermPostings

        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs = []
            for _, row in pdf.iterrows():
                d, fq, _dl = TermPostings(row, seg_size).decode()
                outs.append(
                    pd.DataFrame(
                        {
                            "docid": d + int(row["seg"]) * seg_size,
                            "wf": fq.astype("float64") * wmap[row["term"]],
                        }
                    )
                )
            yield pd.concat(outs)

    cf = (
        rows.mapInPandas(decode, "docid long, wf double")
        .groupBy("docid")
        .agg(F.sum("wf").alias("cf"))
    )
    cdl = index.docs.select(
        "docid",
        (F.col("dl").cast("double") * F.lit(float(weights.get(default_field, 0.0))))
        .alias("cdl"),
    )
    for f, w in weights.items():
        if f == default_field:
            continue
        fd = index.field_docs[f].select(
            "docid", F.col("dl").alias(f"_dl_{f}")
        )
        cdl = cdl.join(fd, "docid", "left").withColumn(
            "cdl",
            F.col("cdl")
            + F.coalesce(F.col(f"_dl_{f}"), F.lit(0)).cast("double")
            * F.lit(float(w)),
        ).drop(f"_dl_{f}")
    inv = F.lit(1.0) / (
        F.lit(float(k1))
        * (F.lit(1.0 - b) + F.lit(float(b)) * F.col("cdl") / F.lit(avgdl))
    )
    return (
        cdl.join(F.broadcast(cf), "docid")
        .select(
            "docid",
            (F.lit(idf) - F.lit(idf) / (F.lit(1.0) + F.col("cf") * inv))
            .alias("score"),
        )
    )


def combined_field_topk(
    index: "Index",
    term: str,
    weights: dict[str, float],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    default_field: str = "text",
) -> DataFrame:
    """Top-k over :func:`combined_field_score` (score desc, docid asc) —
    TakeOrderedAndProject, k rows to the driver."""
    return (
        combined_field_score(
            index, term, weights, k1=k1, b=b, default_field=default_field
        )
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k)
    )


def expand_synonyms(node: tuple, synonyms: dict[str, list[str]]) -> tuple:
    """Query-time SynonymGraphFilter analog (analysis/synonym/
    SynonymGraphFilter.java + SynonymMap; consumed by QueryBuilder
    .analyzeGraphBoolean, util/QueryBuilder.java:539-588): a term with
    synonyms becomes the OR of its graph paths —

    - the original term and every SINGLE-token synonym collapse into ONE
      SynonymQuery (merged df, summed freq — SynonymQuery.java:52,330-347;
      the ``syn`` kernel node),
    - every MULTI-word synonym ("new york") is its own phrase path
      (QueryBuilder creates a PhraseQuery per multi-token side path).

    ``synonyms`` maps term → list of synonym strings (space = multi-word).
    Compound nodes rewrite recursively; only ``term`` leaves expand (the
    filter applies per token)."""
    kind = node[0]
    if kind == "term":
        syns = synonyms.get(node[1])
        if not syns:
            return node
        singles = [s for s in syns if " " not in s]
        multi = [s.split() for s in syns if " " in s]
        base = ("syn", [node[1]] + singles) if singles else node
        if not multi:
            return base
        paths = [base] + [
            ("phrase", [(w, i) for i, w in enumerate(ws)]) for ws in multi
        ]
        return ("or", paths)
    if kind == "and":
        # expand each conjunct independently (graph paths stay required)
        subs = [expand_synonyms(("term", t), synonyms) for t in node[1]]
        if all(s[0] == "term" for s in subs):
            return node
        return ("andn", subs)
    if kind in ("or", "dismax", "andn"):
        out = [expand_synonyms(c, synonyms) for c in node[1]]
        return (kind, out) + tuple(node[2:])
    if kind == "boost":
        return ("boost", expand_synonyms(node[1], synonyms), node[2])
    return node


def blended_term_query(
    terms: list[str],
    boosts: dict[str, float] | None = None,
    tie: float = 0.01,
    method: str = "dismax",
) -> tuple:
    """BlendedTermQuery builder (search/BlendedTermQuery.java:84-116):
    every member term is scored with BLENDED statistics (df = max of member
    dfs — :282-287) so cross-field/cross-spelling variants rank on equal
    footing; results merge via ``DisjunctionMaxRewrite`` with ``tie``
    (default 0.01, :168-171) or ``BOOLEAN_REWRITE`` (``method='or'``,
    :138-149).  Per-term boosts mirror Builder.add(term, boost)."""
    if method not in ("dismax", "or"):
        raise ValueError("method must be 'dismax' or 'or'")
    return ("blended", list(terms), dict(boosts or {}), float(tie), method)


def common_terms_query(
    index,
    text: str,
    max_term_frequency: float = 0.4,
    low_freq_occur: str = "should",
    high_freq_occur: str = "should",
    analyzer=ENGLISH_STOP_WORDS,
) -> tuple | None:
    """CommonTermsQuery analog (queries/CommonTermsQuery.java:143-214):
    query terms partition by document frequency — df > ceil(maxTermFrequency
    * maxDoc) (or the absolute cutoff when >= 1) is HIGH — into a low-freq
    subquery (occur per ``low_freq_occur``) MUST-combined with an optional
    high-freq subquery (occur per ``high_freq_occur``); with no low-freq
    terms the high-freq subquery rewrites to a conjunction ("prevent slow
    queries", :173-180).  Returns an analyzed AST for search()/count_hits."""
    import math as _math

    toks = list(dict.fromkeys(analyze(text, analyzer)))
    if not toks:
        return None
    dfs = term_dfs(toks, index)
    cutoff = (
        max_term_frequency if max_term_frequency >= 1.0
        else _math.ceil(max_term_frequency * index.doc_count)
    )
    low = [t for t in toks if dfs.get(t, 0) <= cutoff]  # unseen terms → low
    high = [t for t in toks if dfs.get(t, 0) > cutoff]

    def sub(terms, occur):
        if len(terms) == 1:
            return ("term", terms[0])
        return ("and", terms) if occur == "must" else ("or", [("term", t) for t in terms])

    if not high:
        return sub(low, low_freq_occur)
    if not low:
        return sub(high, "must")  # forced conjunction of common terms
    return ("reqoptn", sub(low, low_freq_occur), [sub(high, high_freq_occur)])


def multi_field_query(
    q: str,
    fields: list[str],
    default_field: str = "text",
    boosts: dict[str, float] | None = None,
) -> tuple:
    """MultiFieldQueryParser analog (queryparser/.../MultiFieldQueryParser.java:
    42-80): every bare term/phrase expands to an OR of the same leaf over
    each field (BooleanQuery SHOULD per field, the default combine).
    Explicit field: prefixes inside the string still route normally.

    ``boosts``: optional per-field boost map — each field's expanded leaf is
    wrapped in a BoostQuery, matching the ``Map<String,Float> boosts``
    constructor (MultiFieldQueryParser.java:58-80: ``new BoostQuery(q,
    boosts.get(field))``); fields absent from the map stay at 1.0."""
    extra = set(fields) - {default_field}
    node = parse_query(q, default_field=default_field, fields=extra)
    boosts = boosts or {}

    def leaf_for(n, f):
        out = n if f == default_field else ("field", f, n)
        w = float(boosts.get(f, 1.0))
        return ("boost", out, w) if w != 1.0 else out

    def walk(n):
        kind = n[0]
        if kind in ("term", "phrase_raw"):
            return ("or", [leaf_for(n, f) for f in fields])
        if kind == "field":
            return n
        if kind in ("or", "andn"):
            return (kind, [walk(c) for c in n[1]])
        if kind == "and":  # raw AND of term strings → AND of per-field ORs
            return ("andn", [walk(("term", t)) for t in n[1]])
        if kind == "not":
            return ("notn", walk(n[1]), [walk(("term", t)) for t in n[2]])
        if kind == "reqopt":
            return ("reqoptn", walk(n[1]), [walk(("term", t)) for t in n[2]])
        if kind == "dismax":
            return ("dismax", [walk(c) for c in n[1]], n[2])
        if kind == "boost":
            return ("boost", walk(n[1]), n[2])
        if kind in ("notn", "reqoptn"):
            return (kind, walk(n[1]), [walk(c) for c in n[2]])
        return n

    return walk(node)


def rewrite(node: tuple, stopwords=ENGLISH_STOP_WORDS) -> tuple | None:
    """Analyze every term with the index analyzer; drop empty clauses.

    BooleanQuery.rewrite analog (search/BooleanQuery.java:236+): a query whose
    clauses all vanish (stopword-only) rewrites to MatchNoDocs → None.
    """
    kind = node[0]
    if kind == "match_none":
        return None
    if kind == "feature":
        return node  # FeatureQuery: pseudo-term, never analyzed
    if kind in ("fuzzy_raw", "wildcard_raw", "range_raw", "const"):
        # multi-term queries are NOT analyzed (QueryParserBase handles them
        # via getFuzzyQuery/getWildcardQuery, bypassing the analyzer); they
        # are expanded against a concrete index by expand_multiterm
        return node
    if kind == "blended":
        # BlendedTermQuery takes raw Terms (search/BlendedTermQuery.java:84
        # Builder.add(Term)) — no analysis, like the multi-term family
        return node
    if kind == "termauto":
        # TermAutomatonQuery takes exact index terms (sandbox/search/
        # TermAutomatonQuery.java addTransition(BytesRef)) — no analysis
        return node
    if kind in ("phrase", "sloppy"):
        # already-analyzed positioned members (e.g. synonym-graph phrase
        # paths: SynonymMap entries are analyzed when the map is built,
        # analysis/synonym/SynonymMap.java Builder.add) — pass through
        return node
    if kind == "scored_or":
        # pre-scored disjunction (FuzzyLikeThisQuery's rewritten form —
        # each member carries its own artificial-statistics scorer)
        return node
    if kind == "boost":
        sub = rewrite(node[1], stopwords)
        return ("boost", sub, node[2]) if sub is not None else None
    if kind == "andn":
        subs = [rewrite(c, stopwords) for c in node[1]]
        if any(s is None for s in subs):
            return None  # a MUST clause that analyzes away kills the query
        if all(s[0] == "term" for s in subs):
            return ("and", [s[1] for s in subs]) if len(subs) > 1 else subs[0]
        return ("andn", subs) if len(subs) > 1 else subs[0]
    if kind == "reqoptn":
        req = rewrite(node[1], stopwords)
        if req is None:
            return None
        opts = [rewrite(c, stopwords) for c in node[2]]
        opts = [s for s in opts if s is not None]
        if not opts:
            return req
        if all(s[0] == "term" for s in opts):
            return ("reqopt", req, [s[1] for s in opts])
        return ("reqoptn", req, opts)
    if kind == "notn":
        pos = rewrite(node[1], stopwords)
        if pos is None:
            return None
        negs = [rewrite(c, stopwords) for c in node[2]]
        negs = [s for s in negs if s is not None]
        if not negs:
            return pos
        if all(s[0] == "term" for s in negs):
            return ("not", pos, [s[1] for s in negs])
        return ("notn", pos, negs)
    if kind == "field":
        # field scoping: rewrite the sub-tree with the (shared) analyzer,
        # then namespace every leaf term into the field (terms are (field,
        # term) pairs in one dictionary — index/Term.java:30)
        sub = rewrite(node[2], stopwords)
        return _prefix_field(sub, node[1]) if sub is not None else None
    if kind in ("span_near", "span_or", "span_first", "span_position_range", "span_not",
                "span_containing", "span_within", "span_mask"):
        return _rewrite_span(node, stopwords)
    if kind == "interval_query":
        return _rewrite_interval(node, stopwords)
    if kind == "mphrase_raw":
        # MultiPhraseQuery (search/MultiPhraseQuery.java:48): terms added via
        # add(Term[]) share one position; alternatives analyze independently,
        # a member whose alternatives all analyze away leaves a position gap
        members: list[tuple] = []
        for off, m in enumerate(node[1]):
            alts_raw = m if isinstance(m, (list, tuple)) else [m]
            alts: list[str] = []
            for a in alts_raw:
                alts.extend(analyze(a, stopwords))
            if not alts:
                continue
            members.append((alts[0] if len(alts) == 1 else sorted(set(alts)), off))
        if not members:
            return None
        if len(members) == 1:
            m0 = members[0][0]
            if isinstance(m0, str):
                return ("term", m0)
            return ("syn", list(m0))
        return ("phrase", members)
    if kind == "phrase_raw":
        # QueryParser analyzes phrase text with the index analyzer, keeping
        # position gaps from removed stopwords (QueryParserBase.java:437 →
        # PhraseQuery with explicit positions; slop → SloppyPhraseMatcher).
        from .analysis import analyze_with_positions

        slop = node[2] if len(node) > 2 else 0
        toks, poss = analyze_with_positions(node[1], stopwords)
        if not toks:
            return None
        if len(toks) == 1:
            return ("term", toks[0])  # 1-term phrase rewrites to TermQuery
        members = list(zip(toks, poss))
        return ("sloppy", members, slop) if slop > 0 else ("phrase", members)
    if kind == "dismax":
        subs = [rewrite(c, stopwords) for c in node[1]]
        subs = [s for s in subs if s is not None]
        if not subs:
            return None
        if len(subs) == 1:
            return subs[0]
        return ("dismax", subs, node[2])
    if kind == "msm":
        terms: list[str] = []
        for t in node[1]:
            terms.extend(analyze(t, stopwords))
        if len(terms) < node[2]:
            return None  # fewer clauses than minShouldMatch → MatchNoDocs
        return ("msm", terms, node[2])
    if kind == "syn":
        terms = []
        for t in node[1]:
            terms.extend(analyze(t, stopwords))
        if not terms:
            return None
        return ("syn", terms) if len(terms) > 1 else ("term", terms[0])
    if kind == "reqopt":
        req = rewrite(node[1], stopwords)
        if req is None:
            return None  # a MUST clause that analyzes away kills the query
        opt: list[str] = []
        for t in node[2]:
            opt.extend(analyze(t, stopwords))
        return ("reqopt", req, opt) if opt else req
    if kind == "not":
        pos = rewrite(node[1], stopwords)
        if pos is None:
            return None
        neg: list[str] = []
        for t in node[2]:
            neg.extend(analyze(t, stopwords))
        return ("not", pos, neg) if neg else pos
    if kind == "term":
        toks = analyze(node[1], stopwords)
        if not toks:
            return None
        if len(toks) == 1:
            return ("term", toks[0])
        # a "term" that analyzes to several tokens becomes an OR of them
        return ("or", [("term", t) for t in toks])
    if kind == "and":
        terms: list[str] = []
        for t in node[1]:
            toks = analyze(t, stopwords)
            if not toks:
                return None  # Lucene: a MUST clause matching nothing kills the query
            terms.extend(toks)
        return ("and", terms) if len(terms) > 1 else ("term", terms[0])
    subs = [rewrite(c, stopwords) for c in node[1]]
    subs = [s for s in subs if s is not None]
    if not subs:
        return None
    if len(subs) == 1:
        return subs[0]
    flat: list[tuple] = []
    for s in subs:
        flat.extend(s[1] if s[0] == "or" else [s])
    return ("or", flat)


def _rewrite_span(node: tuple, stopwords) -> tuple | None:
    """Analyze span-query sub-terms (SpanTermQuery holds exact index terms;
    this engine analyzes the raw text with the index analyzer first, so
    span_near(["Table", "hash"]) matches the indexed forms).  A sub-term that
    analyzes away (stopword) kills a required sub-span — same MUST contract
    as BooleanQuery; a multi-token sub-term becomes an or-of-tokens sub-span."""
    from .analysis import analyze

    kind = node[0]
    if kind == "sprefix_raw":
        # truncated term inside a distance op (surround SrndPrefixQuery /
        # SrndTruncQuery in a SpanNearClauseFactory context): NOT analyzed —
        # expanded against the term dictionary by expand_multiterm, like the
        # boolean-level multiterm nodes
        return node
    if kind == "sterm":
        toks = analyze(node[1], stopwords)
        if not toks:
            return None
        return ("sterm", toks[0]) if len(toks) == 1 else ("sor", toks)
    if kind in ("sor", "span_or"):
        terms: list[str] = []
        for t in node[1]:
            terms.extend(analyze(t, stopwords))
        if not terms:
            return None
        return ("sor" if kind == "sor" else "spanor", terms)
    if kind == "span_near":
        subs = [_rewrite_span(c, stopwords) for c in node[1]]
        if any(s is None for s in subs):
            return None
        subs = [("sor", s[1]) if s[0] == "spanor" else s for s in subs]
        if any(s[0] not in ("sterm", "sor", "sprefix_raw") for s in subs):
            raise ValueError(
                "span_near sub-spans must be terms or or-of-terms "
                "(nested span composition is supported via span_first/span_not)"
            )
        if len(subs) == 1:
            s = subs[0]
            return ("spanor", [s[1]] if s[0] == "sterm" else s[1])
        return ("spannear", subs, node[2], node[3])
    if kind == "span_first":
        sub = _rewrite_span(node[1], stopwords)
        if sub is None:
            return None
        return ("spanfirst", sub, node[2])
    if kind == "span_position_range":
        # SpanPositionRangeQuery (spans/SpanPositionRangeQuery.java:30-60):
        # spans with start >= range start AND end <= range end; SpanFirst
        # is the (0, n) special case (SpanFirstQuery.java:38-43)
        sub = _rewrite_span(node[1], stopwords)
        if sub is None:
            return None
        return ("spanprange", sub, node[2], node[3])
    if kind == "span_not":
        inc = _rewrite_span(node[1], stopwords)
        if inc is None:
            return None
        exc = _rewrite_span(node[2], stopwords)
        if exc is None:
            # exclusion vanished: the include spans alone
            if inc[0] == "sterm":
                return ("spanor", [inc[1]])
            if inc[0] == "sor":
                return ("spanor", inc[1])
            return inc
        if exc[0] == "spanor":
            exc = ("sor", exc[1])
        if exc[0] not in ("sterm", "sor"):
            raise ValueError("span_not exclude must be a term or or-of-terms")
        pre = node[3] if len(node) > 3 else 0
        post = node[4] if len(node) > 4 else 0
        return ("spannot", inc, exc, pre, post)
    if kind in ("span_containing", "span_within"):
        # both sides required (ContainSpans is a conjunction); any vanished
        # side → MatchNoDocs (SpanContainQuery rewrites through both subs)
        big = _rewrite_span(node[1], stopwords)
        little = _rewrite_span(node[2], stopwords)
        if big is None or little is None:
            return None
        return ("spancontaining" if kind == "span_containing"
                else "spanwithin", big, little)
    if kind == "span_mask":
        # FieldMaskingSpanQuery: analyze the sub, then namespace its terms
        # into the masked field — it then composes with same-field spans
        # (the reference lies about getField(); we lie about the term
        # namespace, same effect on the composition)
        sub = _rewrite_span(node[1], stopwords)
        if sub is None:
            return None
        return _prefix_field(sub, node[2])
    raise ValueError(f"bad span node {node!r}")


_SPAN_BASE_LEN = {"spannear": 4, "spanor": 2, "spanfirst": 3,
                  "spanprange": 4, "spannot": 5,
                  "spancontaining": 3, "spanwithin": 3}


def _iv_analyze(src: tuple, stopwords) -> tuple | None:
    """Analyze the raw terms of an interval source and fold no-match
    branches (NoMatchIntervalsSource semantics): a term that analyzes away
    can never emit, so conjunctive shapes containing it vanish, or-branches
    drop it, and subtracted sides of notContaining/notContainedBy disappear
    (nothing to subtract).  A multi-token term becomes a block source (the
    query-analyzer contract of Intervals.phrase over analyzed text)."""
    kind = src[0]
    if kind == "iterm":
        toks = analyze(src[1], stopwords)
        if not toks:
            return None
        if len(toks) == 1:
            return ("iterm", toks[0])
        return ("i_block", [("iterm", t) for t in toks])
    if kind in ("i_prefix", "i_wildcard"):
        return src
    if kind == "i_or":
        subs = [s for s in (_iv_analyze(c, stopwords) for c in src[1]) if s is not None]
        if not subs:
            return None
        return subs[0] if len(subs) == 1 else ("i_or", subs)
    if kind in ("i_ord", "i_unord", "i_block"):
        subs = [_iv_analyze(c, stopwords) for c in src[1]]
        if any(s is None for s in subs):
            return None
        if len(subs) == 1:
            return subs[0]
        return (kind, subs)
    if kind in ("i_maxgaps", "i_maxwidth"):
        sub = _iv_analyze(src[2], stopwords)
        return None if sub is None else (kind, src[1], sub)
    if kind == "i_extend":
        sub = _iv_analyze(src[1], stopwords)
        return None if sub is None else ("i_extend", sub, src[2], src[3])
    if kind in ("i_containing", "i_contained_by"):
        a = _iv_analyze(src[1], stopwords)
        b = _iv_analyze(src[2], stopwords)
        if a is None or b is None:
            return None
        return (kind, a, b)
    if kind in ("i_not_containing", "i_not_contained_by",
                "i_non_overlapping"):
        a = _iv_analyze(src[1], stopwords)
        if a is None:
            return None
        b = _iv_analyze(src[2], stopwords)
        return a if b is None else (kind, a, b)
    if kind == "i_overlapping":
        a = _iv_analyze(src[1], stopwords)
        b = _iv_analyze(src[2], stopwords)
        if a is None or b is None:
            return None
        return (kind, a, b)
    if kind == "i_offset":
        sub = _iv_analyze(src[1], stopwords)
        return None if sub is None else ("i_offset", sub, src[2])
    if kind == "i_atleast":
        # a vanished source is one whose intervals() is null everywhere —
        # it drops from the iterator pool; fewer than m left → no match
        subs = [s for s in (_iv_analyze(c, stopwords) for c in src[2])
                if s is not None]
        if len(subs) < src[1]:
            return None
        return ("i_atleast", src[1], subs)
    if kind == "i_none":
        return None
    raise ValueError(f"bad interval node {src!r}")


def _rewrite_interval(node: tuple, stopwords) -> tuple | None:
    """IntervalQuery rewrite: analyze the source's raw terms; a dead source
    (all branches vanished) → MatchNoDocs."""
    src = _iv_analyze(node[1], stopwords)
    if src is None:
        return None
    return ("interval_query", src) + tuple(node[2:])


def _iv_prefix_field(src: tuple, f: str) -> tuple:
    """Field-namespace every leaf of an interval source (the fixField /
    FixedFieldIntervalsSource analog: intervals read from field ``f``)."""
    kind = src[0]
    if kind == "iterm":
        return ("iterm", f"{f}:{src[1]}")
    if kind in ("i_prefix", "i_wildcard"):
        return (kind, src[1], f)  # field rides to expand_terms
    if kind in ("i_or", "i_ord", "i_unord", "i_block"):
        return (kind, [_iv_prefix_field(c, f) for c in src[1]])
    if kind in ("i_maxgaps", "i_maxwidth"):
        return (kind, src[1], _iv_prefix_field(src[2], f))
    if kind == "i_extend":
        return ("i_extend", _iv_prefix_field(src[1], f), src[2], src[3])
    if kind in ("i_containing", "i_contained_by", "i_not_containing",
                "i_not_contained_by", "i_overlapping", "i_non_overlapping"):
        return (kind, _iv_prefix_field(src[1], f), _iv_prefix_field(src[2], f))
    if kind == "i_offset":
        return ("i_offset", _iv_prefix_field(src[1], f), src[2])
    if kind == "i_atleast":
        return ("i_atleast", src[1], [_iv_prefix_field(c, f) for c in src[2]])
    if kind == "i_none":
        return src
    raise ValueError(f"bad interval node {src!r}")


def _iv_expand(src: tuple, index, max_exp: int) -> tuple | None:
    """Expand multiterm interval sources against the term dictionary
    (MultiTermIntervalsSource: prefix/wildcard → disjunction of matching
    terms; an empty expansion is a no-match source, folded like
    _iv_analyze)."""
    kind = src[0]
    if kind == "iterm":
        return src
    if kind in ("i_prefix", "i_wildcard"):
        # Lucene wildcard syntax → SQL LIKE (as the classic parser does)
        pat = (src[1] + "*" if kind == "i_prefix" else src[1])
        pat = pat.lower().replace("*", "%").replace("?", "_")
        terms = expand_terms(index, like=pat, max_expansions=max_exp,
                             field=src[2] if len(src) > 2 else None)
        if not terms:
            return None
        if len(terms) == 1:
            return ("iterm", terms[0])
        return ("i_or", [("iterm", t) for t in sorted(terms)])
    if kind == "i_or":
        subs = [s for s in (_iv_expand(c, index, max_exp) for c in src[1])
                if s is not None]
        if not subs:
            return None
        return subs[0] if len(subs) == 1 else ("i_or", subs)
    if kind in ("i_ord", "i_unord", "i_block"):
        subs = [_iv_expand(c, index, max_exp) for c in src[1]]
        if any(s is None for s in subs):
            return None
        return (kind, subs)
    if kind in ("i_maxgaps", "i_maxwidth"):
        sub = _iv_expand(src[2], index, max_exp)
        return None if sub is None else (kind, src[1], sub)
    if kind == "i_extend":
        sub = _iv_expand(src[1], index, max_exp)
        return None if sub is None else ("i_extend", sub, src[2], src[3])
    if kind in ("i_containing", "i_contained_by"):
        a = _iv_expand(src[1], index, max_exp)
        b = _iv_expand(src[2], index, max_exp)
        if a is None or b is None:
            return None
        return (kind, a, b)
    if kind in ("i_not_containing", "i_not_contained_by",
                "i_non_overlapping"):
        a = _iv_expand(src[1], index, max_exp)
        if a is None:
            return None
        b = _iv_expand(src[2], index, max_exp)
        return a if b is None else (kind, a, b)
    if kind == "i_overlapping":
        a = _iv_expand(src[1], index, max_exp)
        b = _iv_expand(src[2], index, max_exp)
        if a is None or b is None:
            return None
        return (kind, a, b)
    if kind == "i_offset":
        sub = _iv_expand(src[1], index, max_exp)
        return None if sub is None else ("i_offset", sub, src[2])
    if kind == "i_atleast":
        subs = [s for s in (_iv_expand(c, index, max_exp) for c in src[2])
                if s is not None]
        if len(subs) < src[1]:
            return None
        return ("i_atleast", src[1], subs)
    raise ValueError(f"bad interval node {src!r}")


def _stats_resolver(index, stats):
    """Per-term CollectionStats: field-namespaced terms ("f:t") of a
    multi-field index resolve to their field's (docCount, sumTotalTermFreq);
    everything else uses the default-field stats."""
    fstats = getattr(index, "field_stats", None)
    if not fstats:
        return lambda t: stats

    def resolve(t):
        i = t.find(":")
        if i > 0:
            fs = fstats.get(t[:i])
            if fs:
                return CollectionStats(int(fs[0]), int(fs[1]))
        return stats

    return resolve


def index_fields(index) -> list:
    """Known non-default field names of a multi-field index (empty for the
    single-field layout)."""
    return sorted((getattr(index, "field_stats", None) or {}).keys())


def _prefix_field(n: tuple, f: str) -> tuple:
    """Namespace every term of an analyzed (scorer-free) AST into ``f``:
    term t → "f:t".  Multi-term *_raw nodes carry the field instead — their
    expansion intersects the field's slice of the term dictionary."""
    p = lambda t: f"{f}:{t}"  # noqa: E731
    kind = n[0]
    if kind == "term":
        return ("term", p(n[1]))
    if kind in ("and", "msm", "syn", "const"):
        return (kind, [p(t) for t in n[1]], *n[2:])
    if kind in ("phrase", "sloppy"):
        return (
            kind,
            [
                ([p(t) for t in m] if isinstance(m, (list, tuple)) else p(m), o)
                for m, o in n[1]
            ],
            *n[2:],
        )
    if kind == "not":
        return ("not", _prefix_field(n[1], f), [p(t) for t in n[2]])
    if kind == "reqopt":
        return ("reqopt", _prefix_field(n[1], f), [p(t) for t in n[2]])
    if kind in ("notn", "reqoptn"):
        return (kind, _prefix_field(n[1], f), [_prefix_field(c, f) for c in n[2]])
    if kind in ("or", "andn"):
        return (kind, [_prefix_field(c, f) for c in n[1]])
    if kind == "dismax":
        return ("dismax", [_prefix_field(c, f) for c in n[1]], n[2])
    if kind == "boost":
        return ("boost", _prefix_field(n[1], f), n[2])
    if kind == "fuzzy_raw":
        return ("fuzzy_raw", n[1], n[2], n[3], f)
    if kind == "wildcard_raw":
        return ("wildcard_raw", n[1], f)
    if kind == "range_raw":
        return ("range_raw", n[1], n[2], n[3], n[4], f)
    if kind == "sterm":
        return ("sterm", p(n[1]))
    if kind == "sprefix_raw":
        return ("sprefix_raw", n[1], f)  # field rides to expand_terms
    if kind in ("sor", "spanor"):
        return (kind, [p(t) for t in n[1]])
    if kind == "spannear":
        return ("spannear", [_prefix_field(c, f) for c in n[1]], n[2], n[3])
    if kind == "spanfirst":
        return ("spanfirst", _prefix_field(n[1], f), n[2])
    if kind == "spanprange":
        return ("spanprange", _prefix_field(n[1], f), n[2], n[3])
    if kind == "spannot":
        return ("spannot", _prefix_field(n[1], f), _prefix_field(n[2], f), n[3], n[4])
    if kind in ("spancontaining", "spanwithin"):
        return (kind, _prefix_field(n[1], f), _prefix_field(n[2], f))
    if kind == "interval_query":
        return ("interval_query", _iv_prefix_field(n[1], f)) + n[2:]
    if kind == "match_none":
        return n
    raise ValueError(f"cannot field-scope node {n!r}")


def query_terms(node: tuple) -> list[str]:
    kind = node[0]
    if kind == "term":
        return [node[1]]
    if kind in ("spannear", "spanor", "spanfirst", "spanprange", "spannot", "spancontaining", "spanwithin"):
        from .spans import span_terms

        return span_terms(node[: _SPAN_BASE_LEN[kind]])
    if kind == "interval_query":
        from .intervals import interval_terms

        return interval_terms(node[1])
    if kind == "feature":
        from .feature import feature_term

        return [feature_term(node[1])]
    if kind == "termauto":
        return list(node[1]["terms"])
    if kind in ("and", "msm", "syn", "const", "blended"):
        return list(node[1])
    if kind == "scored_or":
        return [t for t, _ in node[1]]
    if kind in ("phrase", "sloppy"):
        out = []
        for m, _ in node[1]:
            out.extend(m if isinstance(m, (list, tuple)) else [m])
        return out
    if kind == "not":
        return query_terms(node[1]) + list(node[2])
    if kind == "reqopt":
        return query_terms(node[1]) + list(node[2])
    if kind == "boost":
        return query_terms(node[1])
    if kind in ("reqoptn", "notn"):
        out = query_terms(node[1])
        for c in node[2]:
            out.extend(query_terms(c))
        return out
    if kind in ("fuzzy_raw", "wildcard_raw", "range_raw", "match_none"):
        return []  # no terms until expanded against an index
    out: list[str] = []
    for c in node[1]:  # or / dismax / andn
        out.extend(query_terms(c))
    return out


def attach_scorers(
    node: tuple,
    dfs: dict[str, int],
    stats: "CollectionStats",
    k1: float,
    b: float,
    precision: str,
    sim_cls: type = BM25Scorer,
    stats_for=None,
) -> tuple | None:
    """Rewrite AST → executable node: phrase/syn nodes get their multi-term
    scorer (createWeight analog); nodes that provably match nothing → None.

    ``stats_for``: per-term CollectionStats resolver for multi-field indexes
    (field-namespaced terms score under their field's docCount/avgdl —
    search/IndexSearcher.java:395 collectionStatistics(field))."""
    if stats_for is None:
        stats_for = lambda t: stats  # noqa: E731
    kind = node[0]
    if kind == "feature":
        # FeatureQuery (document/FeatureQuery.java:40): executes as a
        # single-member pseudo-term clause whose scorer decodes the feature
        # value from the freq channel; block-max pruning stays valid because
        # every feature function is monotone increasing in freq
        from .feature import FeatureScorer, feature_term

        ft = feature_term(node[1])
        if ft not in dfs:
            return None  # feature field absent from this index
        return ("syn", [ft], FeatureScorer(node[2], node[3], precision=precision))
    if kind in ("phrase", "sloppy"):
        flat: list[str] = []
        for m, _ in node[1]:
            alts = [t for t in (m if isinstance(m, (list, tuple)) else [m]) if t in dfs]
            if not alts:
                return None  # a phrase member absent from the index → no match
            flat.extend(alts)
        # an extra trailing numeric element is a boost from apply_boosts
        # (BoostQuery folds into the weight, BM25Similarity.java:246)
        tail = node[3] if kind == "sloppy" and len(node) > 3 else (
            node[2] if kind == "phrase" and len(node) > 2 else None
        )
        boost = float(tail) if isinstance(tail, (int, float)) else 1.0
        scorer = sim_cls.for_terms(
            [dfs[t] for t in flat], stats_for(flat[0]), k1=k1,
            b=b, boost=boost, precision=precision,
        )
        if kind == "sloppy":
            return ("sloppy", node[1], node[2], scorer)
        return ("phrase", node[1], scorer)
    if kind == "interval_query":
        # IntervalQuery needs no similarity statistics (IntervalScorer
        # scores freq through the saturation/sigmoid function with norm=1 —
        # IntervalScorer.java:55-58); a required term-group entirely absent
        # from the dictionary → MatchNoDocs.
        from .intervals import interval_required_groups

        for group in interval_required_groups(node[1]):
            if not any(t in dfs for t in group):
                return None
        return node
    if kind in ("spannear", "spanor", "spanfirst", "spanprange", "spannot", "spancontaining", "spanwithin"):
        # SpanWeight (spans/SpanWeight.java:99-117): one SimScorer over all
        # member terms' stats (Σ idf, like PhraseWeight); SpanNot uses the
        # include side only (SpanNotQuery.java:117).  A required sub-span
        # whose terms are all absent → MatchNoDocs.
        from .spans import span_required_groups, span_weight_terms

        base = _SPAN_BASE_LEN[kind]
        core = node[:base]
        if kind == "spanor":
            present = [t for t in node[1] if t in dfs]
            if not present:
                return None
            core = ("spanor", present)
        else:
            for group in span_required_groups(core):
                if not any(t in dfs for t in group):
                    return None
        tail = node[base] if len(node) > base else None
        boost = float(tail) if isinstance(tail, (int, float)) else 1.0
        seen: set[str] = set()
        wterms = [
            t for t in span_weight_terms(core)
            if t in dfs and not (t in seen or seen.add(t))
        ]
        scorer = sim_cls.for_terms(
            [dfs[t] for t in wterms], stats_for(wterms[0]), k1=k1, b=b,
            boost=boost, precision=precision,
        )
        return core + (scorer,)
    if kind == "termauto":
        # TermAutomatonWeight (sandbox/search/TermAutomatonQuery.java:
        # 365-405): ONE SimScorer over every query term present in the
        # dictionary (summed idf); all terms absent -> no candidate docs
        # ("will not use sim") -> MatchNoDocs
        wterms = [t for t in node[1]["terms"] if t in dfs]
        if not wterms:
            return None
        scorer = sim_cls.for_terms(
            [dfs[t] for t in wterms], stats_for(wterms[0]), k1=k1, b=b,
            boost=1.0, precision=precision,
        )
        return ("termauto", node[1], scorer)
    if kind == "scored_or":
        # (term, prebuilt scorer) members — keep only dictionary hits
        subs = [("syn", [t], sc) for t, sc in node[1] if t in dfs]
        if not subs:
            return None
        return subs[0] if len(subs) == 1 else ("or", subs)
    if kind == "blended":
        # BlendedTermQuery.rewrite (search/BlendedTermQuery.java:271-302):
        # every member term is scored with the BLENDED statistics —
        # df = max(member dfs), ttf = sum (ttf unused by BM25/TFIDF) — then
        # the per-term queries merge via DisjunctionMaxRewrite (tie, :155)
        # or BOOLEAN_REWRITE (:138).  Each member rides a single-member syn
        # node, whose kernel path is exactly a term scan with a custom
        # scorer.
        terms, boosts, tie, method = node[1], node[2], node[3], node[4]
        present = [t for t in terms if t in dfs]
        if not present:
            return None
        df_blend = max(dfs[t] for t in present)
        subs = [
            (
                "syn",
                [t],
                sim_cls(
                    df_blend, stats_for(t), k1=k1, b=b,
                    boost=float(boosts.get(t, 1.0)), precision=precision,
                ),
            )
            for t in present
        ]
        if len(subs) == 1:
            return subs[0]
        if method == "dismax":
            return ("dismax", subs, tie)
        return ("or", subs)
    if kind == "syn":
        present = [t for t in node[1] if t in dfs]
        if not present:
            return None
        tail = node[2] if len(node) > 2 else None
        boost = float(tail) if isinstance(tail, (int, float)) else 1.0
        # merged pseudo-term stats: docFreq = max of members
        # (SynonymQuery.java:330-347 blends TermStates the same way)
        scorer = sim_cls(
            max(dfs[t] for t in present), stats_for(present[0]), k1=k1, b=b,
            boost=boost, precision=precision,
        )
        return ("syn", present, scorer)
    if kind == "const":
        present = [t for t in node[1] if t in dfs]
        if not present:
            return None
        return ("const", present, node[2])
    if kind == "andn":
        subs = [attach_scorers(c, dfs, stats, k1, b, precision, sim_cls, stats_for) for c in node[1]]
        if any(s is None for s in subs):
            return None  # a MUST sub-clause matching nothing kills the query
        return ("andn", subs)
    if kind == "reqoptn":
        req = attach_scorers(node[1], dfs, stats, k1, b, precision, sim_cls, stats_for)
        if req is None:
            return None
        opts = [attach_scorers(c, dfs, stats, k1, b, precision, sim_cls, stats_for) for c in node[2]]
        opts = [s for s in opts if s is not None]
        return ("reqoptn", req, opts) if opts else req
    if kind == "notn":
        pos = attach_scorers(node[1], dfs, stats, k1, b, precision, sim_cls, stats_for)
        if pos is None:
            return None
        negs = [attach_scorers(c, dfs, stats, k1, b, precision, sim_cls, stats_for) for c in node[2]]
        negs = [s for s in negs if s is not None]
        return ("notn", pos, negs) if negs else pos
    if kind == "dismax":
        subs = [attach_scorers(c, dfs, stats, k1, b, precision, sim_cls, stats_for) for c in node[1]]
        subs = [s for s in subs if s is not None]
        if not subs:
            return None
        return ("dismax", subs, node[2])
    if kind == "or":
        subs = [attach_scorers(c, dfs, stats, k1, b, precision, sim_cls, stats_for) for c in node[1]]
        subs = [s for s in subs if s is not None]
        if not subs:
            return None
        if len(subs) == 1:
            return subs[0]
        return ("or", subs)
    if kind == "not":
        pos = attach_scorers(node[1], dfs, stats, k1, b, precision, sim_cls, stats_for)
        return ("not", pos, node[2]) if pos is not None else None
    if kind == "reqopt":
        req = attach_scorers(node[1], dfs, stats, k1, b, precision, sim_cls, stats_for)
        return ("reqopt", req, node[2]) if req is not None else None
    return node


def apply_boosts(node: tuple, factor: float = 1.0) -> tuple[tuple | None, dict[str, float]]:
    """Distribute ("boost", sub, f) wrappers down to the leaves — exactly how
    Lucene propagates boost: createWeight(boost) multiplies through composite
    queries until it reaches leaf weights (BoostQuery.java:30,
    BM25Similarity.java:246 weight = boost * idf).

    Returns (node-without-boost-wrappers, {term: boost}); phrase/syn/const
    leaves carry their factor inline for attach_scorers.  A term appearing
    under TWO different boosts in one query (Lucene: two independent leaf
    weights) cannot share the per-term scorer map — those occurrences
    rewrite to single-member ("syn", [t], f) leaves, which score
    identically to a TermQuery (same df, same tf) but carry their factor
    per-node.  msm members keep the shared-map behavior (documented: the
    msm node holds bare terms)."""
    boosts: dict[str, float] = {}

    # pass 1: find terms that appear under more than one effective factor
    seen: dict[str, set[float]] = {}

    def collect(n, f):
        kind = n[0]
        if kind == "boost":
            collect(n[1], f * n[2])
        elif kind == "term":
            seen.setdefault(n[1], set()).add(f)
        elif kind in ("and", "msm"):
            for t in n[1]:
                seen.setdefault(t, set()).add(f)
        elif kind in ("or", "andn"):
            for c in n[1]:
                collect(c, f)
        elif kind == "dismax":
            for c in n[1]:
                collect(c, f)
        elif kind == "not":
            collect(n[1], f)
        elif kind in ("reqoptn", "notn"):
            collect(n[1], f)
            for c in n[2]:
                collect(c, f)
        elif kind == "reqopt":
            collect(n[1], f)
            for t in n[2]:
                seen.setdefault(t, set()).add(f)

    collect(node, factor)
    conflicted = {t for t, fs in seen.items() if len(fs) > 1}

    def walk(n, f):
        kind = n[0]
        if kind == "boost":
            return walk(n[1], f * n[2])
        if kind == "term":
            if n[1] in conflicted:
                return ("syn", [n[1]], f)
            if f != 1.0:
                boosts[n[1]] = f
            return n
        if kind == "and":
            if any(t in conflicted for t in n[1]):
                subs = []
                for t in n[1]:
                    if t in conflicted:
                        subs.append(("syn", [t], f))
                    else:
                        if f != 1.0:
                            boosts[t] = f
                        subs.append(("term", t))
                return ("andn", subs)
            if f != 1.0:
                for t in n[1]:
                    boosts[t] = f
            return n
        if kind in ("msm", "syn", "const") and f == 1.0:
            return n
        if kind == "msm":
            for t in n[1]:
                boosts[t] = f
            return n
        if kind == "syn":
            return ("syn", n[1], f)
        if kind == "const":
            return ("const", n[1], n[2] * f)
        if kind in ("spannear", "spanor", "spanfirst", "spanprange", "spannot", "spancontaining", "spanwithin"):
            # boost folds into the SpanWeight (trailing factor read by
            # attach_scorers, like phrase/sloppy)
            return n + (f,) if f != 1.0 else n
        if kind == "interval_query":
            # boost multiplies the score-function weight
            # (IntervalQuery BoostAttribute → IntervalScorer boost)
            return ("interval_query", n[1], n[2], n[3], n[4] * f)
        if kind == "phrase":
            return ("phrase", n[1], f) if f != 1.0 else n
        if kind == "sloppy":
            return ("sloppy", n[1], n[2], f) if f != 1.0 else n
        if kind in ("or", "andn"):
            return (kind, [walk(c, f) for c in n[1]])
        if kind == "dismax":
            return ("dismax", [walk(c, f) for c in n[1]], n[2])
        if kind == "not":
            return ("not", walk(n[1], f), n[2])
        if kind in ("reqoptn", "notn"):
            return (kind, walk(n[1], f), [walk(c, f) for c in n[2]])
        if kind == "reqopt":
            if any(t in conflicted for t in n[2]):
                opts = [("syn", [t], f) if t in conflicted else
                        walk(("term", t), f) for t in n[2]]
                return ("reqoptn", walk(n[1], f), opts)
            if f != 1.0:
                for t in n[2]:
                    boosts[t] = f
            return ("reqopt", walk(n[1], f), n[2])
        return n  # raw multiterm nodes keep wrappers outside this walk

    out = walk(node, factor)
    return out, boosts


def expand_multiterm(node: tuple, index: "Index", max_expansions: int | None = None) -> tuple | None:
    """Rewrite fuzzy/wildcard/range *_raw nodes against the index's term
    dictionary (MultiTermQuery.rewrite, MultiTermQuery.java:53):

      - wildcard / range → ("const", terms, 1.0): the CONSTANT_SCORE rewrite
        (MultiTermQuery.CONSTANT_SCORE_BLENDED_REWRITE default — matching
        docs score the query boost, WildcardQuery/TermRangeQuery docs)
      - fuzzy → ("syn", terms): the TopTermsBlendedFreqScoringRewrite analog
        (FuzzyQuery.java:52 — blended as one pseudo-term over max df; this
        engine blends without per-distance boost, documented divergence)

    Nodes that expand to nothing → None (MatchNoDocs)."""
    max_exp = max_expansions or MAX_EXPANSIONS

    def walk(n):
        kind = n[0]
        if kind == "fuzzy_raw":
            terms = expand_terms(
                index, fuzzy=(n[1], n[2], n[3]), max_expansions=max_exp,
                field=n[4] if len(n) > 4 else None,
            )
            if not terms:
                return None
            return ("syn", terms) if len(terms) > 1 else ("term", terms[0])
        if kind == "wildcard_raw":
            terms = expand_terms(index, like=n[1], max_expansions=max_exp,
                                 field=n[2] if len(n) > 2 else None)
            return ("const", terms, 1.0) if terms else None
        if kind == "range_raw":
            terms = expand_terms(
                index, lower=n[1], upper=n[2], lower_inclusive=n[3],
                upper_inclusive=n[4], max_expansions=max_exp,
                field=n[5] if len(n) > 5 else None,
            )
            return ("const", terms, 1.0) if terms else None
        if kind == "boost":
            sub = walk(n[1])
            return ("boost", sub, n[2]) if sub is not None else None
        if kind in ("or", "andn"):
            subs = [walk(c) for c in n[1]]
            if kind == "andn" and any(s is None for s in subs):
                return None
            subs = [s for s in subs if s is not None]
            if not subs:
                return None
            return (kind, subs) if len(subs) > 1 else subs[0]
        if kind == "dismax":
            subs = [s for s in (walk(c) for c in n[1]) if s is not None]
            if not subs:
                return None
            return ("dismax", subs, n[2]) if len(subs) > 1 else subs[0]
        if kind in ("reqoptn", "notn"):
            head = walk(n[1])
            if head is None:
                return None
            tails = [s for s in (walk(c) for c in n[2]) if s is not None]
            return (kind, head, tails) if tails else head
        if kind in ("not", "reqopt"):
            head = walk(n[1])
            if head is None:
                return None
            return (kind, head, n[2])
        if kind == "interval_query":
            src = _iv_expand(n[1], index, max_exp)
            if src is None:
                return None
            return ("interval_query", src) + tuple(n[2:])
        if kind == "spannear":
            # truncated sub-spans (surround truncation inside a distance op)
            # expand to or-of-matching-terms — SpanNearClauseFactory
            # visitMatchingTerms → SpanOrQuery (surround/query/
            # SpanNearClauseFactory.java:64-139); a sub that matches nothing
            # kills the near (required sub-span, MatchNoDocs)
            subs = []
            for s in n[1]:
                if s[0] != "sprefix_raw":
                    subs.append(s)
                    continue
                terms = expand_terms(
                    index, like=s[1], max_expansions=max_exp,
                    field=s[2] if len(s) > 2 else None,
                )
                if not terms:
                    return None
                subs.append(
                    ("sor", sorted(terms)) if len(terms) > 1
                    else ("sterm", terms[0])
                )
            return ("spannear", subs) + n[2:]
        return n

    return walk(node)


def damerau_levenshtein(a: str, b: str, cap: int = 2) -> int:
    """Unrestricted Damerau-Levenshtein (Lowrance-Wagner) — transpositions
    are single edits even when later edited between ("ca"→"abc" = 2), the
    semantics of Lucene FuzzyQuery transpositions=true (FuzzyQuery.java:52,
    default at :177) and of DuckDB's damerau_levenshtein (the oracle twin).
    Returns min(distance, cap+1) — early-capped for the expansion filter."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if abs(la - lb) > cap:
        return cap + 1
    inf = la + lb
    da: dict[str, int] = {}
    d = [[inf] * (lb + 2) for _ in range(la + 2)]
    d[0][0] = inf
    for i in range(la + 1):
        d[i + 1][1] = i
        d[i + 1][0] = inf
    for j in range(lb + 1):
        d[1][j + 1] = j
        d[0][j + 1] = inf
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,          # substitute
                d[i + 1][j] + 1,         # insert
                d[i][j + 1] + 1,         # delete
                d[k][l] + (i - k - 1) + 1 + (j - l - 1),  # transpose
            )
        da[a[i - 1]] = i
    return min(d[la + 1][lb + 1], cap + 1)


# --- search ---------------------------------------------------------------------


@dataclass
class TopDocs:
    docids: np.ndarray
    scores: np.ndarray
    urls: list[str] | None = None

    def to_pandas(self) -> pd.DataFrame:
        d = {"rank": np.arange(len(self.docids)), "docid": self.docids, "score": self.scores}
        if self.urls is not None:
            d["url"] = self.urls
        return pd.DataFrame(d)


def term_dfs(terms: list[str], index: Index) -> dict[str, int]:
    """Document frequency of each present term — a binary search in the
    index's term-statistics snapshot (``Index.term_stats``: the reader-resident
    terms-dictionary analog TermStates.build reads, index/TermStates.java:95),
    so a query launches no Spark job for its term stats.  Absent terms are
    omitted."""
    return {t: df for t, (df, _) in index.term_stats().lookup(terms).items()}


def term_cfs(terms: list[str], index: Index) -> dict[str, int]:
    """Per-term COLLECTION frequency (totalTermFreq) from the same snapshot —
    read by similarities that declare NEEDS_CF (LM-Dirichlet, DFI)."""
    return {t: cf for t, (_, cf) in index.term_stats().lookup(terms).items()}


def _cf_kwargs(sim_cls, terms, index):
    """{} per term, or {'cf': n} when the similarity needs collection
    frequency — keeps the scorer-construction sites one-line."""
    if not getattr(sim_cls, "NEEDS_CF", False):
        return lambda t: {}
    cfs = term_cfs(terms, index)
    return lambda t: {"cf": cfs.get(t)}


def search(
    index: Index,
    query: str | tuple,
    k: int = 10,
    precision: str = "lucene",
    prune: bool = True,
    k1: float = 1.2,
    b: float = 0.75,
    with_urls: bool = False,
    boosts: dict[str, float] | None = None,
    filter_docs: DataFrame | None = None,
    similarity: str = "bm25",
    analyzer=ENGLISH_STOP_WORDS,
    after: tuple[float, int] | None = None,
) -> TopDocs:
    """Distributed top-k search.  ``similarity``: 'bm25' (default),
    'classic' (TF-IDF, ClassicSimilarity.java), or 'boolean'
    (BooleanSimilarity.java) — the IndexSearcher.setSimilarity analog
    (search/IndexSearcher.java:286-294); the kernels are similarity-agnostic
    (SimScorer contract).  ``query``: string or pre-parsed AST
    (term/and/or/not/phrase/dismax/msm/syn nodes).  ``boosts``: per-term boost
    (BoostQuery analog).

    ``filter_docs``: optional DataFrame with a ``docid`` column — the
    BooleanClause.Occur.FILTER analog (search/BooleanQuery.java:40: required
    match, does NOT contribute to the score; IndexOrDocValuesQuery.java:51
    picks columnar execution for such predicates — here the predicate runs as
    a plain Catalyst filter producing the docid set, then cogroups with the
    postings by segment so each kernel masks before ranking).

    ``after``: searchAfter cursor ``(score, docid)`` of the LAST hit of the
    previous page (IndexSearcher.searchAfter, search/IndexSearcher.java:
    470-511 → PagingTopScoreDocCollector): only hits strictly after it in
    (score desc, docid asc) order are collected, so page N costs the same
    as page 1 — k rows per segment, k rows to the driver — instead of the
    collect-(N·k)-and-slice driver-side skip.  Pass
    ``(td.scores[-1], td.docids[-1])`` from the previous page computed under
    the SAME precision/similarity/k1/b; scores are compared exactly."""
    node = (
        parse_query(query, fields=index_fields(index))
        if isinstance(query, str) else query
    )
    node = rewrite(node, analyzer)
    empty = TopDocs(np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64), [] if with_urls else None)
    if node is None:
        return empty
    node = expand_multiterm(node, index)
    if node is None:
        return empty
    node, term_boosts = apply_boosts(node)
    if term_boosts:
        boosts = {**term_boosts, **(boosts or {})}
    terms = sorted(set(query_terms(node)))
    stats = CollectionStats(index.doc_count, index.sum_total_term_freq)
    dfs = term_dfs(terms, index)
    boosts = boosts or {}
    sim_cls = SIMILARITIES[similarity]
    stats_for = _stats_resolver(index, stats)
    cf_kw = _cf_kwargs(sim_cls, terms, index)
    scorers = {
        t: sim_cls(dfs[t], stats_for(t), k1=k1, b=b, boost=boosts.get(t, 1.0),
                   precision=precision, **cf_kw(t))
        for t in terms
        if t in dfs
    }
    node = attach_scorers(node, dfs, stats, k1, b, precision, sim_cls, stats_for)
    if node is None:
        return empty
    if node[0] == "and" and any(t not in scorers for t in terms):
        return empty
    if not scorers:
        return empty

    scan_terms = [t for t in terms if t in scorers]
    pulsed_synth: list[dict] | None = None
    if getattr(index, "pulsed", None) is not None and scan_terms:
        # singleton pulsing (pulsing.py): df==1 terms are served from the
        # vocabulary-sized sidecar (pushdown isin scan, k tiny rows to the
        # driver) and synthesized into standard posting rows; the BIG
        # postings table is scanned only for the remaining terms — or not
        # at all when every query term is a singleton
        from .pulsing import synthesize_posting_rows

        pl = index.pulsed.filter(F.col("term").isin(scan_terms)).collect()
        if pl:
            pulsed_synth = synthesize_posting_rows([r.asDict() for r in pl])
            got = {r["term"] for r in pl}
            scan_terms = [t for t in scan_terms if t not in got]
    spark_sess = index.postings.sparkSession
    if scan_terms:
        rows = index.postings.filter(F.col("term").isin(scan_terms))
        if pulsed_synth:
            from .index import POSTINGS_SCHEMA

            rows = rows.unionByName(
                spark_sess.createDataFrame(pulsed_synth, POSTINGS_SCHEMA)
            )
    elif pulsed_synth:
        from .index import POSTINGS_SCHEMA

        rows = spark_sess.createDataFrame(pulsed_synth, POSTINGS_SCHEMA)
    else:
        from .index import POSTINGS_SCHEMA

        rows = spark_sess.createDataFrame([], POSTINGS_SCHEMA)

    # per-segment execution: posting rows are self-contained (inline dls), so
    # the only shuffle is the query's own rows grouped by seg — segment ==
    # Lucene leaf, executor == searcher slice; the driver collects k rows/seg.
    seg_size = index.seg_size
    if not getattr(sim_cls, "ALLOW_PRUNE", True):
        prune = False  # negative-score similarities void the zero lower bound
    node_b, kparam, prec, pr = node, k, precision, prune
    after_b = (float(after[0]), int(after[1])) if after is not None else None
    out_schema = "seg long, docid long, score double"

    def _seg_after(seg: int):
        # global cursor docid → this segment's local space (degenerates
        # correctly for segments before/after the cursor's segment)
        if after_b is None:
            return None
        return (after_b[0], after_b[1] - seg * seg_size)

    def _run(post_pdf: pd.DataFrame, allow: np.ndarray | None) -> pd.DataFrame:
        if len(post_pdf) == 0:
            return pd.DataFrame({"seg": pd.Series(dtype="int64"),
                                 "docid": pd.Series(dtype="int64"),
                                 "score": pd.Series(dtype="float64")})
        seg = int(post_pdf["seg"].iloc[0])
        term_rows = {r["term"]: r for _, r in post_pdf.iterrows()}
        d, s = segment_topk(
            node_b, term_rows, scorers, seg_size, kparam,
            precision=prec, prune=pr, allow=allow, after=_seg_after(seg),
        )
        return pd.DataFrame({"seg": seg, "docid": d + seg * seg_size, "score": s})

    # NOTE: applyInPandas dispatches on function arity — a second parameter
    # would be interpreted as the grouping key — so the no-filter entrypoint
    # must be strictly single-argument.
    def run_segment(post_pdf: pd.DataFrame) -> pd.DataFrame:
        return _run(post_pdf, None)

    # deletes applied at read (LiveDocsFormat analog): fold tombstones into
    # the allow set when a FILTER is present, else run the deny-mask path
    deny_docs = None
    if index.tombstones is not None:
        if filter_docs is not None:
            filter_docs = filter_docs.join(
                index.tombstones.select("docid"), "docid", "left_anti"
            )
        else:
            deny_docs = index.tombstones

    if deny_docs is not None:
        ddf = deny_docs.select(
            F.col("docid"), (F.col("docid") / F.lit(seg_size)).cast("long").alias("seg")
        )

        def run_denied(key, post_pdf: pd.DataFrame, deny_pdf: pd.DataFrame) -> pd.DataFrame:
            seg = int(key[0])
            if len(post_pdf) == 0:
                return pd.DataFrame({"seg": pd.Series(dtype="int64"),
                                     "docid": pd.Series(dtype="int64"),
                                     "score": pd.Series(dtype="float64")})
            deny = np.sort(deny_pdf["docid"].to_numpy(dtype=np.int64) - seg * seg_size)

            def _run_deny(pdf):
                term_rows = {r["term"]: r for _, r in pdf.iterrows()}
                d, s = segment_topk(node_b, term_rows, scorers, seg_size, kparam,
                                    precision=prec, prune=pr, deny=deny,
                                    after=_seg_after(seg))
                return pd.DataFrame({"seg": seg, "docid": d + seg * seg_size, "score": s})

            return _run_deny(post_pdf)

        per_seg = (
            rows.groupBy("seg")
            .cogroup(ddf.groupBy("seg"))
            .applyInPandas(run_denied, schema=out_schema)
        )
    elif filter_docs is not None:
        fdf = filter_docs.select(
            F.col("docid"), (F.col("docid") / F.lit(seg_size)).cast("long").alias("seg")
        )

        def run_filtered(key, post_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
            seg = int(key[0])
            allow = np.sort(
                filt_pdf["docid"].to_numpy(dtype=np.int64) - seg * seg_size
            )
            if len(allow) == 0 or len(post_pdf) == 0:
                return pd.DataFrame({"seg": pd.Series(dtype="int64"),
                                     "docid": pd.Series(dtype="int64"),
                                     "score": pd.Series(dtype="float64")})
            return _run(post_pdf, allow)

        per_seg = (
            rows.groupBy("seg")
            .cogroup(fdf.groupBy("seg"))
            .applyInPandas(run_filtered, schema=out_schema)
        )
    else:
        per_seg = rows.groupBy("seg").applyInPandas(run_segment, schema=out_schema)
    # hierarchical reduce: the per-segment top-k rows are cut to a global
    # top-k IN SPARK (TakeOrderedAndProject — per-partition heaps + a k-row
    # merge) before anything reaches the driver.  At 10^12 docs / 10^6-doc
    # segments a flat collect would ship k x 10^6 rows; this ships k.
    # (TopDocs.merge contract: score desc, docID asc — TopDocs.java:93-120.)
    out = (
        per_seg.orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k)
        .collect()
    )
    if not out:
        return empty
    docids = np.array([r["docid"] for r in out], dtype=np.int64)
    scores = np.array([r["score"] for r in out], dtype=np.float64)
    order = np.lexsort((docids, -scores))[:k]
    docids, scores = docids[order], scores[order]
    urls = None
    if with_urls:
        url_rows = index.docs.filter(F.col("docid").isin(docids.tolist())).select(
            "docid", "url"
        ).collect()
        umap = {r["docid"]: r["url"] for r in url_rows}
        urls = [umap.get(int(d)) for d in docids]
    return TopDocs(docids, scores, urls)


def score_docs(
    index: Index,
    query: str | tuple,
    precision: str = "lucene",
    k1: float = 1.2,
    b: float = 0.75,
    similarity: str = "bm25",
    analyzer=ENGLISH_STOP_WORDS,
    segs: list[int] | None = None,
) -> DataFrame:
    """ALL matching docs scored, returned as a distributed DataFrame
    (docid, score) — the collector-chaining primitive behind facets/grouping
    (FacetsCollector.java:46 collects every hit; grouping's first pass
    likewise).  Nothing is collected: downstream aggregations (facet counts,
    per-group top-n windows) stay in Spark.  Tombstones are masked.

    ``segs`` restricts evaluation to the given docID-range segments before
    any postings decode (the LeafReaderContext-ord short-circuit pattern,
    e.g. ParentChildrenBlockJoinQuery.java:115-118) — global stats are
    unchanged, so per-doc scores are identical to a full scan."""
    node = rewrite(
        parse_query(query, fields=index_fields(index))
        if isinstance(query, str) else query, analyzer,
    )
    spark = index.postings.sparkSession
    empty = spark.createDataFrame([], "docid long, score double")
    if node is None:
        return empty
    node = expand_multiterm(node, index)
    if node is None:
        return empty
    node, term_boosts = apply_boosts(node)
    terms = sorted(set(query_terms(node)))
    stats = CollectionStats(index.doc_count, index.sum_total_term_freq)
    stats_for = _stats_resolver(index, stats)
    dfs = term_dfs(terms, index)
    sim_cls = SIMILARITIES[similarity]
    cf_kw = _cf_kwargs(sim_cls, terms, index)
    scorers = {
        t: sim_cls(dfs[t], stats_for(t), k1=k1, b=b,
                   boost=term_boosts.get(t, 1.0), precision=precision,
                   **cf_kw(t))
        for t in terms if t in dfs
    }
    node = attach_scorers(node, dfs, stats, k1, b, precision, sim_cls, stats_for)
    if node is None or not scorers:
        return empty
    if node[0] == "and" and any(t not in scorers for t in terms):
        return empty
    rows = index.postings.filter(F.col("term").isin(sorted(scorers)))
    if segs is not None:
        rows = rows.filter(F.col("seg").isin([int(s) for s in segs]))
    seg_size, node_b, prec = index.seg_size, node, precision

    def _score(post_pdf: pd.DataFrame, deny: np.ndarray | None) -> pd.DataFrame:
        from .kernel import TermPostings, _phrase_member_terms, score_query_node

        if len(post_pdf) == 0:
            return pd.DataFrame({"docid": pd.Series(dtype="int64"),
                                 "score": pd.Series(dtype="float64")})
        seg = int(post_pdf["seg"].iloc[0])
        tps = {r["term"]: TermPostings(r, seg_size) for _, r in post_pdf.iterrows()}
        pbt = {t: tp.decode() for t, tp in tps.items()}
        phrase_terms = _phrase_member_terms(node_b)
        pos_by_term = {
            t: tps[t].positions_flat() for t in phrase_terms if t in tps
        } if phrase_terms else None
        if deny is not None:
            masked = {}
            for t, (d, f, dl) in pbt.items():
                m = ~np.isin(d, deny, assume_unique=True)
                masked[t] = (d[m], f[m], dl[m])
                if pos_by_term is not None and t in pos_by_term:
                    pos_by_term[t] = pos_by_term[t][np.repeat(m, f)]
            pbt = masked
        d, s = score_query_node(node_b, pbt, scorers, prec, pos_by_term)
        return pd.DataFrame({"docid": d + seg * seg_size, "score": s})

    if index.tombstones is not None:
        ddf = index.tombstones.select(
            F.col("docid"), (F.col("docid") / F.lit(seg_size)).cast("long").alias("seg")
        )

        def run_denied(key, post_pdf: pd.DataFrame, deny_pdf: pd.DataFrame) -> pd.DataFrame:
            seg = int(key[0])
            deny = np.sort(deny_pdf["docid"].to_numpy(dtype=np.int64) - seg * seg_size)
            return _score(post_pdf, deny)

        return (
            rows.groupBy("seg").cogroup(ddf.groupBy("seg"))
            .applyInPandas(run_denied, schema="docid long, score double")
        )

    def run_segment(post_pdf: pd.DataFrame) -> pd.DataFrame:
        return _score(post_pdf, None)

    return rows.groupBy("seg").applyInPandas(run_segment, schema="docid long, score double")


def count_hits(index: Index, query: str | tuple, analyzer=ENGLISH_STOP_WORDS) -> int:
    """Distributed TotalHitCountCollector
    (search/TotalHitCountCollector.java:28): per-segment match COUNTS are
    computed inside the kernel (no scoring) and summed by a Spark
    aggregation — only one number per segment ever moves, never hits.
    Tombstoned docs are excluded (liveDocs semantics)."""
    node = (
        parse_query(query, fields=index_fields(index))
        if isinstance(query, str) else query
    )
    node = rewrite(node, analyzer)
    if node is None:
        return 0
    node = expand_multiterm(node, index)
    if node is None:
        return 0
    node, _ = apply_boosts(node)  # boosts don't change the match set
    terms = sorted(set(query_terms(node)))
    stats = CollectionStats(index.doc_count, index.sum_total_term_freq)
    dfs = term_dfs(terms, index)
    node = attach_scorers(node, dfs, stats, 1.2, 0.75, "float64")
    if node is None:
        return 0
    if node[0] == "and" and any(t not in dfs for t in terms):
        return 0
    present = [t for t in terms if t in dfs]
    if not present:
        return 0
    rows = index.postings.filter(F.col("term").isin(present))
    seg_size, node_b = index.seg_size, node

    def _count(post_pdf: pd.DataFrame, deny: np.ndarray | None) -> pd.DataFrame:
        from .kernel import TermPostings, match_docids

        if len(post_pdf) == 0:
            return pd.DataFrame({"n": pd.Series(dtype="int64")})
        tps = {r["term"]: TermPostings(r, seg_size) for _, r in post_pdf.iterrows()}
        postings_by_term = {t: tp.decode() for t, tp in tps.items()}
        if deny is not None:
            postings_by_term = {
                t: (d[m], f[m], dl[m])
                for t, (d, f, dl) in postings_by_term.items()
                for m in [~np.isin(d, deny, assume_unique=True)]
            }
        from .kernel import _phrase_member_terms

        phrase_terms = _phrase_member_terms(node_b)
        pos_by_term = None
        if phrase_terms:
            pos_by_term = {t: tps[t].positions_flat() for t in phrase_terms if t in tps}
            if deny is not None:
                for t in list(pos_by_term):
                    d, f, _ = tps[t].decode()
                    m = ~np.isin(d, deny, assume_unique=True)
                    pos_by_term[t] = pos_by_term[t][np.repeat(m, f)]
        d = match_docids(node_b, postings_by_term, pos_by_term)
        return pd.DataFrame({"n": [len(d)]})

    if index.tombstones is not None:
        ddf = index.tombstones.select(
            F.col("docid"), (F.col("docid") / F.lit(seg_size)).cast("long").alias("seg")
        )

        def run_denied(key, post_pdf: pd.DataFrame, deny_pdf: pd.DataFrame) -> pd.DataFrame:
            seg = int(key[0])
            deny = np.sort(deny_pdf["docid"].to_numpy(dtype=np.int64) - seg * seg_size)
            return _count(post_pdf, deny)

        per_seg = (
            rows.groupBy("seg").cogroup(ddf.groupBy("seg"))
            .applyInPandas(run_denied, schema="n long")
        )
    else:

        def run_segment(post_pdf: pd.DataFrame) -> pd.DataFrame:
            return _count(post_pdf, None)

        per_seg = rows.groupBy("seg").applyInPandas(run_segment, schema="n long")
    total = per_seg.agg(F.sum("n")).collect()[0][0]
    return int(total or 0)


def sorted_topk(
    index: Index,
    query: str | tuple,
    k: int = 10,
    ascending: bool = True,
    analyzer=ENGLISH_STOP_WORDS,
    probe_segments: int = 4,
    return_stats: bool = False,
):
    """Early-terminating top-k in INDEX-SORT order (docid order == rank over
    the build's ``key_col``) — the sorted-index early termination of
    TopFieldCollector (search/TopFieldCollector.java:61-70 canEarlyTerminate:
    when the query sort is a prefix of the index sort, collection stops after
    k competitive hits per leaf; IndexWriterConfig.setIndexSort,
    index/IndexSorter.java).

    Spark shape: docID-range segments are ordered by the sort key, so the
    engine probes segments in sort order, geometrically widening
    (``probe_segments``, then 2x per round) until k matches accumulate —
    segments past the answer are NEVER read, and the postings scan prunes to
    the probed seg partitions (seg is the partition key on disk).  Each
    probed segment returns at most k docids (its own early termination).

    Returns sorted docids (ascending or descending by index order); with
    ``return_stats`` → (docids, {"segments_probed": n, "segments_total": m}).
    """
    node = (
        parse_query(query, fields=index_fields(index))
        if isinstance(query, str) else query
    )
    node = rewrite(node, analyzer)
    empty = np.empty(0, dtype=np.int64)
    if node is not None:
        node = expand_multiterm(node, index)
    if node is not None:
        node, _ = apply_boosts(node)
    if node is None:
        return (empty, {"segments_probed": 0, "segments_total": 0}) if return_stats else empty
    terms = sorted(set(query_terms(node)))
    stats = CollectionStats(index.doc_count, index.sum_total_term_freq)
    dfs = term_dfs(terms, index)
    node = attach_scorers(node, dfs, stats, 1.2, 0.75, "float64",
                          stats_for=_stats_resolver(index, stats))
    present = [t for t in terms if t in dfs]
    bad = node is None or not present or (
        node[0] == "and" and any(t not in dfs for t in terms)
    )
    if bad:
        return (empty, {"segments_probed": 0, "segments_total": 0}) if return_stats else empty
    rows = index.postings.filter(F.col("term").isin(present))
    segs = sorted(
        (r["seg"] for r in rows.select("seg").distinct().collect()),
        reverse=not ascending,
    )
    seg_size, node_b, kk = index.seg_size, node, k

    deny_df = None
    if index.tombstones is not None:
        deny_df = index.tombstones.select(
            F.col("docid"), (F.col("docid") / F.lit(seg_size)).cast("long").alias("seg")
        )

    def _first_k(post_pdf: pd.DataFrame, deny: np.ndarray | None) -> pd.DataFrame:
        from .kernel import TermPostings, _phrase_member_terms, match_docids

        if len(post_pdf) == 0:
            return pd.DataFrame({"docid": pd.Series(dtype="int64")})
        seg = int(post_pdf["seg"].iloc[0])
        tps = {r["term"]: TermPostings(r, seg_size) for _, r in post_pdf.iterrows()}
        pbt = {t: tp.decode() for t, tp in tps.items()}
        phrase_terms = _phrase_member_terms(node_b)
        pos_by_term = None
        if phrase_terms:
            pos_by_term = {t: tps[t].positions_flat() for t in phrase_terms if t in tps}
        if deny is not None:
            masked = {}
            for t, (d, f, dl) in pbt.items():
                m = ~np.isin(d, deny, assume_unique=True)
                masked[t] = (d[m], f[m], dl[m])
                if pos_by_term is not None and t in pos_by_term:
                    pos_by_term[t] = pos_by_term[t][np.repeat(m, f)]
            pbt = masked
        d = match_docids(node_b, pbt, pos_by_term)  # sorted ascending
        d = d[:kk] if ascending else d[-kk:]
        return pd.DataFrame({"docid": d + seg * seg_size})

    def run_plain(post_pdf: pd.DataFrame) -> pd.DataFrame:
        return _first_k(post_pdf, None)

    def run_denied(key, post_pdf: pd.DataFrame, deny_pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(key[0])
        deny = np.sort(deny_pdf["docid"].to_numpy(dtype=np.int64) - seg * seg_size)
        return _first_k(post_pdf, deny)

    acc: list[int] = []
    i, batch = 0, max(1, probe_segments)
    while i < len(segs) and len(acc) < k:
        probe = segs[i : i + batch]
        sub = rows.filter(F.col("seg").isin([int(s) for s in probe]))
        if deny_df is not None:
            dsub = deny_df.filter(F.col("seg").isin([int(s) for s in probe]))
            got = (
                sub.groupBy("seg").cogroup(dsub.groupBy("seg"))
                .applyInPandas(run_denied, schema="docid long").collect()
            )
        else:
            got = (
                sub.groupBy("seg").applyInPandas(run_plain, schema="docid long")
                .collect()
            )
        acc.extend(r["docid"] for r in got)
        i += batch
        batch *= 2  # geometric widening: O(log segments) probe rounds worst case
    out = np.array(sorted(acc, reverse=not ascending)[:k], dtype=np.int64)
    if return_stats:
        return out, {"segments_probed": i if i < len(segs) else len(segs),
                     "segments_total": len(segs)}
    return out


def search_many(
    index: Index,
    queries: dict[str, str | tuple],
    k: int = 10,
    precision: str = "lucene",
    prune: bool = True,
    k1: float = 1.2,
    b: float = 0.75,
    ks: dict[str, int] | None = None,
    similarity: str = "bm25",
    analyzer=ENGLISH_STOP_WORDS,
    afters: dict[str, tuple[float, int]] | None = None,
) -> dict[str, TopDocs]:
    """Run MANY queries in ONE Spark job — the throughput path.
    ``ks`` optionally overrides ``k`` per query id.  ``afters`` optionally
    gives a per-query searchAfter cursor ``(score, docid)`` (same contract
    as ``search(after=...)``) — a paged query log batches pages 2+ at the
    same cost as first pages.

    Lucene amortizes per-query cost across a query log (benchmark byTask
    ReadTask loop); Spark's analog is batching: a single postings scan +
    shuffle for the union of all query terms, with every segment kernel
    evaluating every query against its local rows.  Per-query driver work is
    microseconds; the fixed job-scheduling cost (~0.5 s in local mode) is
    paid once for the whole batch instead of per query.
    """
    stats = CollectionStats(index.doc_count, index.sum_total_term_freq)
    stats_for = _stats_resolver(index, stats)
    empty = TopDocs(np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))

    prepared: dict[str, tuple] = {}
    all_terms: set[str] = set()
    for qid, q in queries.items():
        node = rewrite(
            parse_query(q, fields=index_fields(index))
            if isinstance(q, str) else q, analyzer,
        )
        if node is not None:
            node = expand_multiterm(node, index)
        if node is not None:
            node, tb = apply_boosts(node)
            if tb:
                # scorers are shared across the batch — a per-query term
                # boost would leak into other queries' scores
                raise ValueError(
                    f"query {qid!r}: ^boost is not supported in the batched "
                    "search_many path; use search()"
                )
            prepared[qid] = node
            all_terms.update(query_terms(node))
    if not prepared:
        return {qid: empty for qid in queries}

    dfs = term_dfs(sorted(all_terms), index)
    sim_cls = SIMILARITIES[similarity]
    exec_nodes: dict[str, tuple] = {}
    needed_terms: set[str] = set()
    for qid, node in prepared.items():
        node = attach_scorers(node, dfs, stats, k1, b, precision, sim_cls, stats_for)
        if node is None:
            continue
        terms = [t for t in query_terms(node) if t in dfs]
        if node[0] == "and" and len(terms) < len(query_terms(node)):
            continue
        if terms:
            exec_nodes[qid] = node
            needed_terms.update(terms)
    if not exec_nodes:
        return {qid: empty for qid in queries}

    cf_kw = _cf_kwargs(sim_cls, sorted(needed_terms), index)
    scorers = {
        t: sim_cls(dfs[t], stats_for(t), k1=k1, b=b, precision=precision,
                   **cf_kw(t))
        for t in needed_terms
    }
    # singleton pulsing, mirrored from search() so the batched path has the
    # same sidecar fast path (df==1 terms never touch the big postings scan)
    scan_terms = sorted(needed_terms)
    pulsed_synth: list[dict] | None = None
    if getattr(index, "pulsed", None) is not None and scan_terms:
        from .pulsing import synthesize_posting_rows

        pl = index.pulsed.filter(F.col("term").isin(scan_terms)).collect()
        if pl:
            pulsed_synth = synthesize_posting_rows([r.asDict() for r in pl])
            got = {r["term"] for r in pl}
            scan_terms = [t for t in scan_terms if t not in got]
    if scan_terms:
        rows = index.postings.filter(F.col("term").isin(scan_terms))
        if pulsed_synth:
            from .index import POSTINGS_SCHEMA

            rows = rows.unionByName(
                index.postings.sparkSession.createDataFrame(pulsed_synth, POSTINGS_SCHEMA)
            )
    else:
        from .index import POSTINGS_SCHEMA

        rows = index.postings.sparkSession.createDataFrame(
            pulsed_synth or [], POSTINGS_SCHEMA
        )
    seg_size = index.seg_size
    ks = {qid: (ks or {}).get(qid, k) for qid in exec_nodes}
    if not getattr(sim_cls, "ALLOW_PRUNE", True):
        prune = False  # negative-score similarities void the zero lower bound
    nodes_b, kmap, prec, pr = exec_nodes, ks, precision, prune
    afters_b = {
        qid: (float(a[0]), int(a[1])) for qid, a in (afters or {}).items()
    }
    many_schema = "qid string, docid long, score double"

    def _run_many(post_pdf: pd.DataFrame, deny: np.ndarray | None) -> pd.DataFrame:
        from .kernel import TermPostings, segment_topk

        if len(post_pdf) == 0:
            return pd.DataFrame({"qid": pd.Series(dtype=object),
                                 "docid": pd.Series(dtype="int64"),
                                 "score": pd.Series(dtype="float64")})
        seg = int(post_pdf["seg"].iloc[0])
        # shared decoded postings across the whole query batch
        term_rows = {
            r["term"]: TermPostings(r, seg_size) for _, r in post_pdf.iterrows()
        }
        out_q, out_d, out_s = [], [], []
        for qid, node in nodes_b.items():
            sub = {t: term_rows[t] for t in query_terms(node) if t in term_rows}
            if not sub:
                continue
            qa = afters_b.get(qid)
            d, s = segment_topk(node, sub, scorers, seg_size, kmap[qid],
                                precision=prec, prune=pr, deny=deny,
                                after=(qa[0], qa[1] - seg * seg_size) if qa else None)
            out_q.extend([qid] * len(d))
            out_d.append(d + seg * seg_size)
            out_s.append(s)
        return pd.DataFrame({
            "qid": out_q,
            "docid": np.concatenate(out_d) if out_d else np.empty(0, dtype=np.int64),
            "score": np.concatenate(out_s) if out_s else np.empty(0, dtype=np.float64),
        })

    def run_segment(post_pdf: pd.DataFrame) -> pd.DataFrame:
        return _run_many(post_pdf, None)

    if index.tombstones is not None:
        # same read-time LiveDocs deny mask as search() — batched queries must
        # not resurrect deleted docs (Lucene: every scorer sees liveDocs)
        ddf = index.tombstones.select(
            F.col("docid"), (F.col("docid") / F.lit(seg_size)).cast("long").alias("seg")
        )

        def run_denied(key, post_pdf: pd.DataFrame, deny_pdf: pd.DataFrame) -> pd.DataFrame:
            seg = int(key[0])
            deny = np.sort(deny_pdf["docid"].to_numpy(dtype=np.int64) - seg * seg_size)
            return _run_many(post_pdf, deny)

        per_seg = (
            rows.groupBy("seg")
            .cogroup(ddf.groupBy("seg"))
            .applyInPandas(run_denied, schema=many_schema)
        )
    else:
        per_seg = rows.groupBy("seg").applyInPandas(run_segment, schema=many_schema)

    # hierarchical per-query reduce in Spark: rank per qid and keep k before
    # collect — ships sum(k_q) rows to the driver instead of k x num_segments
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("docid").asc())
    kmax = max(ks.values())
    collected = (
        per_seg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.lit(kmax))
        .collect()
    )
    by_q: dict[str, list] = {}
    for r in collected:
        by_q.setdefault(r["qid"], []).append((r["docid"], r["score"]))
    out: dict[str, TopDocs] = {}
    for qid in queries:
        pairs = by_q.get(qid)
        if not pairs:
            out[qid] = empty
            continue
        docids = np.array([p[0] for p in pairs], dtype=np.int64)
        scores = np.array([p[1] for p in pairs], dtype=np.float64)
        order = np.lexsort((docids, -scores))[: ks.get(qid, k)]
        out[qid] = TopDocs(docids[order], scores[order])
    return out


def explain(
    index: Index,
    query: str | tuple,
    docid: int,
    precision: str = "lucene",
    k1: float = 1.2,
    b: float = 0.75,
    boosts: dict[str, float] | None = None,
) -> pd.DataFrame:
    """Per-term score breakdown for one document — the IndexSearcher.explain
    analog (search/IndexSearcher.java:714-726; BM25Similarity.explain,
    BM25Similarity.java:261-297).  Returns a pandas frame with one row per
    query term present in the doc: (term, df, tf, dl, weight, score)."""
    node = rewrite(
        parse_query(query, fields=index_fields(index))
        if isinstance(query, str) else query
    )
    cols = ["term", "df", "tf", "dl", "weight", "score"]
    if node is None:
        return pd.DataFrame(columns=cols)
    terms = sorted(set(query_terms(node)))
    stats = CollectionStats(index.doc_count, index.sum_total_term_freq)
    dfs = term_dfs(terms, index)
    boosts = boosts or {}
    seg = docid // index.seg_size
    local = docid - seg * index.seg_size
    rows = index.postings.filter(
        (F.col("seg") == seg) & F.col("term").isin([t for t in terms if t in dfs])
    ).collect()
    from .kernel import TermPostings

    out = []
    for r in rows:
        d, f, dl = TermPostings(r.asDict(), index.seg_size).decode()
        pos = np.searchsorted(d, local)
        if pos >= len(d) or d[pos] != local:
            continue
        scorer = BM25Scorer(
            dfs[r["term"]], _stats_resolver(index, stats)(r["term"]), k1=k1,
            b=b, boost=boosts.get(r["term"], 1.0), precision=precision,
        )
        s = scorer.score_from_dl(f[pos : pos + 1], dl[pos : pos + 1])[0]
        out.append(
            (r["term"], dfs[r["term"]], int(f[pos]), int(dl[pos]),
             float(scorer.weight), float(s))
        )
    return pd.DataFrame(sorted(out), columns=cols)


def more_like_this_terms(
    index: Index,
    text: str,
    max_terms: int = 25,
    min_term_freq: int = 2,
    min_doc_freq: int = 5,
    stopwords=ENGLISH_STOP_WORDS,
) -> list[str]:
    """Interesting-term selection from a seed text — the MoreLikeThis queue
    (queries/src/java/org/apache/lucene/queries/mlt/MoreLikeThis.java:622-668:
    score = tf * idf with ClassicSimilarity idf = ln((docCount+1)/(df+1)) + 1,
    ClassicSimilarity.java:55-64; defaults minTermFreq=2, minDocFreq=5).
    Ties break (score desc, term asc) for determinism."""
    import collections
    import math

    tf = collections.Counter(analyze(text, stopwords))
    cands = [t for t, c in tf.items() if c >= min_term_freq]
    if not cands:
        return []
    dfs = term_dfs(cands, index)
    n = index.doc_count
    scored = [
        (tf[t] * (math.log((n + 1.0) / (dfs[t] + 1.0)) + 1.0), t)
        for t in cands
        if t in dfs and dfs[t] >= min_doc_freq
    ]
    scored.sort(key=lambda x: (-x[0], x[1]))
    return [t for _, t in scored[:max_terms]]


def more_like_this(
    index: Index,
    text: str,
    k: int = 10,
    max_terms: int = 25,
    min_term_freq: int = 2,
    min_doc_freq: int = 5,
    precision: str = "lucene",
    prune: bool = True,
) -> TopDocs:
    """MoreLikeThis: select interesting terms, run them as a disjunction
    (MoreLikeThis.java:587-607 createQuery builds the boolean SHOULD query)."""
    terms = more_like_this_terms(index, text, max_terms, min_term_freq, min_doc_freq)
    if not terms:
        return TopDocs(np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
    return search(index, ("or", [("term", t) for t in terms]), k=k,
                  precision=precision, prune=prune)


# --- MultiTermQuery family (expansion against the term dictionary) ---------------


MAX_EXPANSIONS = 1024  # IndexSearcher max clause count (IndexSearcher.java:97)

def lucene_regexp_predicate(col: Column, pattern: str,
                            match_flags: int = 0) -> Column:
    """Compile a Lucene-RegExp pattern to a Catalyst whole-term predicate
    via the full automaton engine (regexp.py — grammar-exact parser, NFA
    over codepoint intervals, DFA with intersection/complement/decimal-
    interval; RegexpQuery.java:44 matches the ENTIRE term).  Rewrite
    ladder, mirroring Lucene's CompiledAutomaton classification:

    1. finite language of ≤ 512 strings → ``isin`` (the TermInSetQuery /
       CompiledAutomaton SINGLE-or-set rewrite; an IN-list pushes to the
       parquet term-dictionary scan)
    2. otherwise, common-prefix ``startswith`` + min/max length bounds
       as Catalyst PREFILTERS (both reach the scan), then
       a. a pure-JVM anchored ``rlike`` when the AST has a faithful
          Java-regex rendering (no complement / intersection / numeric
          interval anywhere in the tree), or
       b. an Arrow-batched vectorized DFA walk (numpy transition table,
          O(max_len) gathers per batch) for the automaton-only operators
          — the analog of Lucene intersecting the automaton with the
          term-dictionary FST.
    """
    from .regexp import LuceneRegexp

    rx = (pattern if isinstance(pattern, LuceneRegexp)
          else LuceneRegexp(pattern, match_flags=match_flags))
    fs = rx.finite_strings(limit=512)
    if fs is not None:
        if not fs:
            return F.lit(False)
        if len(fs) == 1:
            return col == fs[0]
        return col.isin(fs)
    preds: list[Column] = []
    pre = rx.common_prefix()
    if pre:
        preds.append(col.startswith(pre))
    mn = rx.min_len()
    if mn > 0:
        preds.append(F.length(col) >= mn)
    mx = rx.max_len()
    if mx is not None:
        preds.append(F.length(col) <= mx)
    jr = rx.java_regex()
    if jr is not None:
        preds.append(col.rlike(jr))
    else:

        @F.pandas_udf("boolean")
        def _dfa_match(terms: pd.Series) -> pd.Series:
            return pd.Series(rx.match_batch(terms.tolist()),
                             index=terms.index)

        preds.append(_dfa_match(col))
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def expand_terms(
    index: Index,
    like: str | None = None,
    rlike: str | None = None,
    fuzzy: tuple | None = None,
    lower: str | None = None,
    upper: str | None = None,
    max_expansions: int = MAX_EXPANSIONS,
    transpositions: bool = True,
    lower_inclusive: bool = True,
    upper_inclusive: bool = True,
    field: str | None = None,
) -> list[str]:
    """Expand a Prefix/Wildcard/Regexp/Fuzzy/TermRange query against the term
    dictionary (MultiTermQuery.java:53 rewrites via term-enum intersection;
    PrefixQuery.java:29, WildcardQuery.java:38, RegexpQuery.java:44,
    FuzzyQuery.java:52, TermRangeQuery.java:37).  The termdict is sorted by
    term, so parquet min/max stats prune LIKE/range scans (the FST analog).

    ``fuzzy``: (term, max_edits[, prefix_length]).  Matches FuzzyQuery
    defaults: transpositions=True → unrestricted Damerau-Levenshtein
    (FuzzyQuery.java:52, transpositions default at :177 — "abc"→"acb" is ONE
    edit), maxEdits <= 2 (LevenshteinAutomata limit), prefix_length chars
    must match exactly.  The automaton's pruning role is played by pushed-down
    prefilters (prefix LIKE + length band reach the parquet scan); the exact
    distance runs as an Arrow-batched UDF on the surviving sliver."""
    td = index.termdict
    tcol = "term"
    if field is not None:
        # multi-field: intersect only the field's namespaced slice of the
        # dictionary (terms "field:...") — the startswith prefilter is a
        # pushdown range scan over the term-sorted parquet; predicates below
        # run against the field-local term text
        pfx = field + ":"
        td = td.filter(F.col("term").startswith(pfx)).withColumn(
            "bterm", F.expr(f"substring(term, {len(pfx) + 1})")
        )
        tcol = "bterm"
    if like is not None:
        rt = getattr(index, "rterms", None)
        if (
            field is None
            and rt is not None
            and like.startswith("%")
            and "%" not in like[1:]
            and "_" not in like
        ):
            # leading-wildcard fast path (ReverseStringFilter pattern): the
            # reversed-term sidecar turns `%suffix` into a PREFIX scan on
            # rterm — StringStartsWith pushes to the parquet scan, so the
            # vocabulary is pruned by min/max stats instead of fully read
            suffix = like[1:]
            td = rt.filter(F.col("rterm").startswith(suffix[::-1])).select("term")
        else:
            td = td.filter(F.col(tcol).like(like))
    if rlike is not None:
        # RegexpQuery matches the ENTIRE term (RegexpQuery.java:44 builds
        # RegExp(...).toAutomaton() and intersects it with the term dict);
        # lucene_regexp_predicate compiles the FULL Lucene grammar —
        # including nested ~ complement, & intersection and <n-m> decimal
        # intervals — to a DFA (regexp.py) and rewrites: finite language →
        # isin pushdown, else prefix/length prefilters + rlike or a
        # vectorized DFA walk
        from .regexp import LuceneRegexp

        rx = LuceneRegexp(rlike)
        rt = getattr(index, "rterms", None)
        if (
            field is None
            and rt is not None
            and not rx.common_prefix()
            and rx.finite_strings(limit=512) is None
        ):
            # no prefix to push down (e.g. '.*ing'): mine the automaton's
            # common SUFFIX and prune via the reversed-term sidecar — the
            # CompiledAutomaton commonSuffixRef trick, turned into a
            # parquet PREFIX range scan on rterm
            suf = rx.common_suffix()
            if suf:
                td = rt.filter(
                    F.col("rterm").startswith(suf[::-1])).select("term")
        td = td.filter(lucene_regexp_predicate(F.col(tcol), rx))
    if fuzzy is not None:
        term, max_edits = fuzzy[0], fuzzy[1]
        prefix_len = fuzzy[2] if len(fuzzy) > 2 else 0
        if max_edits > 2:
            raise ValueError(
                "max_edits must be <= 2 (LevenshteinAutomata.java:49 limit)"
            )
        # pushed-down prefilters (the FST-intersection analog)
        td = td.filter(
            F.length(tcol).between(len(term) - max_edits, len(term) + max_edits)
        )
        if prefix_len > 0:
            td = td.filter(F.col(tcol).startswith(term[:prefix_len]))
        if transpositions:
            qt, me = term, max_edits

            @F.pandas_udf("boolean")
            def _close(terms: pd.Series) -> pd.Series:
                return terms.map(lambda t: damerau_levenshtein(t, qt, me) <= me)

            td = td.filter(_close(F.col(tcol)))
        else:
            td = td.filter(F.levenshtein(F.col(tcol), F.lit(term)) <= max_edits)
    if lower is not None:
        td = td.filter(
            F.col(tcol) >= lower if lower_inclusive else F.col(tcol) > lower
        )
    if upper is not None:
        td = td.filter(
            F.col(tcol) <= upper if upper_inclusive else F.col(tcol) < upper
        )
    rows = td.select("term").orderBy("term").limit(max_expansions).collect()
    return [r["term"] for r in rows]


def field_exists_docs(index: Index, field: str,
                      default_field: str = "text") -> DataFrame:
    """FieldExistsQuery (search/FieldExistsQuery.java:40-118): docIDs where
    the field is present.  For indexed text fields the reference iterates
    the field's norms — norms exist iff the field produced >= 1 token in
    the doc, so an all-stopword value does NOT exist.  Constant-score
    (the reference's scorer emits 1.0 for every hit).

    Our layout: the default field's dl rides the norms table (dl > 0 ⟺
    norms present); any other field's terms are namespaced 'field:term',
    so existence = >= 1 posting row under the namespace — a term-RANGE
    filter on the term-sorted postings parquet (pushdown scan), one
    distinct, never a full-corpus pass."""
    if field == default_field:
        return (index.norms.filter(F.col("dl") > 0)
                .select("docid").distinct())
    pref = field + ":"
    seg_size = index.seg_size
    # [field + ':', field + ';') — ';' is chr(ord(':') + 1): a sargable
    # range over the term-sorted postings parquet (pushdown scan);
    # matched rows decode distributed, exactly the match_any_docs shape
    rows = index.postings.filter(
        (F.col("term") >= pref) & (F.col("term") < field + ";"))

    def explode(batches):
        from .kernel import TermPostings

        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = []
            segs = pdf["seg"].to_numpy(dtype=np.int64)
            for i, (_, row) in enumerate(pdf.iterrows()):
                docids = TermPostings(row, seg_size).decode()[0]
                out.append(docids + segs[i] * seg_size)
            yield pd.DataFrame({"docid": np.concatenate(out)})

    return rows.mapInPandas(explode, schema="docid long").distinct()


def match_any_docs(index: Index, terms: list[str]) -> DataFrame:
    """docIDs matching ANY of ``terms`` — the CONSTANT_SCORE rewrite of an
    expanded MultiTermQuery / TermInSetQuery (search/TermInSetQuery.java:74):
    decode only the matched postings rows, distributed, then distinct."""
    spark = index.postings.sparkSession
    if not terms:
        return spark.createDataFrame([], "docid long")
    seg_size = index.seg_size
    rows = index.postings.filter(F.col("term").isin(list(set(terms))))

    def explode(batches):
        from .kernel import TermPostings

        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = []
            segs = pdf["seg"].to_numpy(dtype=np.int64)
            for i, (_, row) in enumerate(pdf.iterrows()):
                docids = TermPostings(row, seg_size).decode()[0]
                out.append(docids + segs[i] * seg_size)
            yield pd.DataFrame({"docid": np.concatenate(out)})

    return rows.mapInPandas(explode, schema="docid long").distinct()


def search_with_total(
    index: Index,
    query: str | tuple,
    k: int = 10,
    total_hits_threshold: int = 1000,
    **kw,
) -> tuple[TopDocs, int, str]:
    """Top-k plus a TotalHits (value, relation) — the TopScoreDocCollector
    .create(k, totalHitsThreshold) surface (search/TopScoreDocCollector
    .java:50-76, search/TotalHits.java:33-47): collectors stop counting
    exactly at the threshold and report GREATER_THAN_OR_EQUAL_TO beyond
    it, which is what unlocks block-max pruning in the reference.

    Distributed contract: the count is ONE aggregate (per-segment counts
    summed Spark-side, count_hits), so the exact value is kept even past
    the threshold; the RELATION still follows the reference's API —
    'EQUAL_TO' when count <= threshold, else 'GREATER_THAN_OR_EQUAL_TO'
    (the reported value is trivially a valid >= bound).  Consumers that
    branch on TotalHits.Relation behave identically.
    """
    td = search(index, query, k=k, **kw)
    total = count_hits(index, query, analyzer=kw.get("analyzer", ENGLISH_STOP_WORDS))
    rel = "EQUAL_TO" if total <= total_hits_threshold else "GREATER_THAN_OR_EQUAL_TO"
    return td, total, rel


def per_field_similarity_search(
    index: Index,
    field_queries: dict,
    k: int = 10,
    precision: str = "lucene",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """PerFieldSimilarityWrapper analog (similarities/PerFieldSimilarity
    Wrapper.java:28-45: "provides the ability to use a different Similarity
    for different fields"): each field clause scores under its OWN
    similarity over its own field statistics, and the enclosing boolean
    SHOULD sums the clause scores per doc (BooleanWeight sum).

    ``field_queries``: {field: (query, similarity_name)}; field "" = the
    default field.  → distributed (docid, score) DataFrame cut to k by
    one TakeOrderedAndProject.

    Shape: one pruned postings scan per field clause (each is a plain
    score_docs pass — the per-field stats resolve through the namespaced
    term dictionary), one union + hash-aggregate sum; no collects.
    """
    parts = []
    for field, (query, sim) in sorted(field_queries.items()):
        q = query if not field else f"{field}:{query}"
        parts.append(
            score_docs(index, q, precision=precision, similarity=sim,
                       k1=k1, b=b))
    if not parts:
        return index.postings.sparkSession.createDataFrame(
            [], "docid long, score double")
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy("docid").agg(F.sum("score").alias("score"))
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k)
    )
