"""Property-based fuzzing (hypothesis) — no Spark, pure driver code.

Targets the reference's randomized-test strategy (SURVEY §5: Lucene leans on
RandomizedRunner + random codecs/IndexOptions per run; e.g.
test-framework/.../util/LuceneTestCase.java): feed the kernels randomized
inputs and assert the CONTRACT rather than golden values.

  - classic parser totality: parse_query never raises on arbitrary text
    (the CLI feeds it raw user input)
  - surround parser: returns an AST or raises ValueError — never any other
    exception, never hangs
  - codec roundtrips: postings/positions encode→decode is the identity for
    any sorted docid set (any block mix: full FOR/PFor blocks + vInt tail)
  - Damerau-Levenshtein: symmetry, identity, cap behavior, and the
    transposition axiom that distinguishes it from plain Levenshtein
  - MemoryIndex duel: for ANY single-doc corpus and term query, the
    in-RAM index scores EXACTLY like the exhaustive oracle over a one-doc
    corpus (same analyzer, same float32 BM25)
  - per-block impact maxima: the vectorized ``max_scores_per_block`` equals
    a per-block loop for any block mix, empty and single-impact blocks too
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_spark.codecs import (
    decode_positions,
    decode_postings,
    encode_positions,
    encode_postings,
)
from lucene_spark.impacts import max_scores_per_block
from lucene_spark.memory import memory_search
from lucene_spark.oracle import OracleIndex
from lucene_spark.search import damerau_levenshtein, parse_query
from lucene_spark.surround import parse_surround

# --- parsers ----------------------------------------------------------------

_QUERY_ALPHABET = st.text(
    alphabet='abcO R()"~^*?[]{}+-:0123456789 ', min_size=0, max_size=60
)


@settings(max_examples=300, deadline=None)
@given(_QUERY_ALPHABET)
def test_classic_parser_is_total(q):
    node = parse_query(q)
    assert isinstance(node, tuple) and len(node) >= 1


@settings(max_examples=300, deadline=None)
@given(_QUERY_ALPHABET)
def test_surround_parser_raises_only_valueerror(q):
    try:
        node = parse_surround(q)
    except ValueError:
        return
    assert isinstance(node, tuple)


_SURROUND_OPS = {"or", "and", "not", "w", "n"}
_TERM = st.from_regex(r"[a-z]{1,6}", fullmatch=True).filter(
    lambda t: t not in _SURROUND_OPS and not __import__("re").fullmatch(
        r"([2-9][0-9]?|1[0-9])?[wn]", t
    )
)


@settings(max_examples=150, deadline=None)
@given(st.lists(_TERM, min_size=2, max_size=5),
       st.integers(min_value=2, max_value=99),
       st.booleans())
def test_surround_infix_chain_equals_prefix_form(terms, dist, ordered):
    op = f"{dist}{'w' if ordered else 'n'}"
    infix = parse_surround(f" {op} ".join(terms))
    prefix = parse_surround(f"{op}({', '.join(terms)})")
    assert infix == prefix
    assert infix[0] == "span_near" and infix[2] == dist - 1 and infix[3] is ordered


# --- codecs -----------------------------------------------------------------


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**20), min_size=1,
             max_size=400, unique=True),
    st.data(),
)
def test_postings_roundtrip_any_block_mix(docid_list, data):
    docids = np.array(sorted(docid_list), dtype=np.int64)
    freqs = np.array(
        data.draw(st.lists(st.integers(min_value=1, max_value=1000),
                           min_size=len(docids), max_size=len(docids))),
        dtype=np.int64,
    )
    enc = encode_postings(docids, freqs)
    nblocks = len(enc["block_last_docid"])
    d, f = decode_postings(enc["doc_blob"], enc["freq_blob"],
                           enc["tail_blob"], int(enc["n_tail"]), nblocks)[:2]
    assert np.array_equal(d, docids)
    assert np.array_equal(f, freqs)
    # skip metadata contract: block_last_docid[i] == last docid of block i
    if nblocks:
        assert np.array_equal(
            np.asarray(enc["block_last_docid"], dtype=np.int64),
            d[127::128][:nblocks],
        )


@settings(max_examples=100, deadline=None)
@given(st.data())
def test_positions_roundtrip(data):
    freqs = np.array(
        data.draw(st.lists(st.integers(min_value=1, max_value=20),
                           min_size=1, max_size=50)),
        dtype=np.int64,
    )
    # per-doc positions must be strictly increasing
    flat = []
    for f in freqs:
        start = data.draw(st.integers(min_value=0, max_value=100))
        gaps = data.draw(st.lists(st.integers(min_value=1, max_value=9),
                                  min_size=int(f) - 1, max_size=int(f) - 1))
        pos = [start]
        for g in gaps:
            pos.append(pos[-1] + g)
        flat.extend(pos)
    flat = np.array(flat, dtype=np.int64)
    blob = encode_positions(flat, freqs)
    out = decode_positions(blob, freqs)
    assert np.array_equal(out, flat)


# --- Damerau-Levenshtein ----------------------------------------------------


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="abcd", max_size=8), st.text(alphabet="abcd", max_size=8))
def test_damerau_symmetric_and_capped(a, b):
    d1, d2 = damerau_levenshtein(a, b), damerau_levenshtein(b, a)
    assert d1 == d2
    assert 0 <= d1 <= 3  # cap=2 → max reported 3
    assert (d1 == 0) == (a == b)


@settings(max_examples=200, deadline=None)
@given(st.from_regex(r"[a-z]{2,7}", fullmatch=True), st.data())
def test_damerau_adjacent_transposition_is_one_edit(w, data):
    i = data.draw(st.integers(min_value=0, max_value=len(w) - 2))
    if w[i] == w[i + 1]:
        return
    t = w[:i] + w[i + 1] + w[i] + w[i + 2:]
    assert damerau_levenshtein(w, t) == 1


# --- MemoryIndex vs exhaustive oracle ---------------------------------------


@settings(max_examples=100, deadline=None)
@given(
    st.lists(_TERM, min_size=1, max_size=30),   # document tokens
    st.lists(_TERM, min_size=1, max_size=3),    # query terms
)
def test_memory_index_duels_single_doc_oracle(doc_toks, q_terms):
    text = " ".join(doc_toks)
    query = " ".join(q_terms)
    mem = memory_search(text, query, precision="lucene")
    want = OracleIndex(["u0"], [text]).search(query, k=1, precision="lucene")
    if len(want) == 0:
        assert mem == 0.0
    else:
        assert mem == float(want["score"].iloc[0])


# --- shape-vs-box relation algebra (geo.shape_box_query's exact kernel) -----


@settings(max_examples=300, deadline=None)
@given(st.data())
def test_shape_relation_algebra(data):
    """WITHIN implies INTERSECTS; DISJOINT is the exact complement of
    INTERSECTS; CONTAINS implies INTERSECTS — over random diamonds/boxes,
    evaluated on the same numpy kernel the Spark exact phase runs."""
    import numpy as np

    from lucene_spark.geo import _shape_exact_flags

    f = st.floats(min_value=-50, max_value=50, allow_nan=False,
                  allow_infinity=False)
    cy = data.draw(f); cx = data.draw(f)
    h = data.draw(st.floats(min_value=0.1, max_value=20))
    w = data.draw(st.floats(min_value=0.1, max_value=20))
    lats = [cy + h, cy, cy - h, cy]
    lons = [cx, cx + w, cx, cx - w]
    b1 = data.draw(f); b2 = data.draw(f)
    b3 = data.draw(f); b4 = data.draw(f)
    mnla, mxla = min(b1, b2), max(b1, b2)
    mnlo, mxlo = min(b3, b4), max(b3, b4)
    vin, any_c, any_e, all_c = _shape_exact_flags(
        [lats], [lons], mnla, mxla, mnlo, mxlo)
    inter = bool(vin[0] or any_c[0] or any_e[0])
    within = all(
        mnla <= y <= mxla and mnlo <= x <= mxlo
        for y, x in zip(lats, lons))
    contains = bool(all_c[0] and not any_e[0])
    if within:
        assert inter
    if contains:
        assert inter
    # vertex-in-box implies intersects by construction; sanity: the box
    # center inside the diamond implies intersects (corner OR edge OR
    # vertex must fire for an overlapping pair)
    bcy, bcx = (mnla + mxla) / 2, (mnlo + mxlo) / 2
    if abs(bcy - cy) / h + abs(bcx - cx) / w < 0.999 and not within:
        assert inter


# --- bloom sidecar: fold preserves membership over random bit sets ----------


@settings(max_examples=300, deadline=None)
@given(st.data())
def test_bloom_fold_membership(data):
    """OR-folding halves preserves membership under h & (size-1): for any
    bit set at full size, the folded set still claims MAYBE (no false
    negatives) — the FuzzySet.downsize contract the Spark pack() applies."""
    import numpy as np

    size = data.draw(st.sampled_from([64, 128, 256, 512]))
    hashes = data.draw(st.lists(
        st.integers(min_value=0, max_value=(1 << 60) - 1),
        min_size=1, max_size=40))
    mask = np.zeros(size, dtype=bool)
    for hv in hashes:
        mask[hv & (size - 1)] = True
    folds = data.draw(st.integers(min_value=0, max_value=3))
    cur = mask
    s = size
    for _ in range(folds):
        if s <= 8:
            break
        half = s // 2
        cur = cur[:half] | cur[half:]
        s = half
    for hv in hashes:
        assert cur[hv & (s - 1)]


# --- per-block impact maxima --------------------------------------------------


def _max_scores_loop(imp_freqs, imp_dls, offsets, scorer):
    out = np.zeros(len(offsets) - 1, dtype=np.float64)
    for bi in range(len(offsets) - 1):
        s, e = offsets[bi], offsets[bi + 1]
        if e > s:
            out[bi] = scorer.score_from_dl(imp_freqs[s:e], imp_dls[s:e]).max()
    return out


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.lists(st.tuples(st.integers(1, 300), st.integers(1, 5000)), max_size=4),
             max_size=12),
    st.sampled_from(["lucene", "float64"]),
    st.integers(1, 999),
)
def test_max_scores_per_block_matches_a_block_loop(blocks, precision, df):
    from lucene_spark.similarity import BM25Scorer, CollectionStats

    scorer = BM25Scorer(df, CollectionStats(1000, 250_000), precision=precision)
    pairs = [p for b in blocks for p in b]
    imp_freqs = np.array([f for f, _ in pairs], dtype=np.int64)
    imp_dls = np.array([dl for _, dl in pairs], dtype=np.int64)
    offsets = np.concatenate(([0], np.cumsum([len(b) for b in blocks]))).astype(np.int64)
    got = max_scores_per_block(imp_freqs, imp_dls, offsets, scorer)
    want = _max_scores_loop(imp_freqs, imp_dls, offsets, scorer)
    assert got.dtype == np.float64 and got.tobytes() == want.tobytes()
