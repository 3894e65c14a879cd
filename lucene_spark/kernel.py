"""Per-segment query kernels: exhaustive oracle path + windowed block-max pruning.

Lucene analog: the Scorer tree executed per leaf (search/WANDScorer.java:30-54
Block-Max WAND, search/BlockMaxConjunctionScorer.java:30, exhaustive
DisjunctionSumScorer.java / BooleanScorer.java).  This engine is
block-at-a-time instead of doc-at-a-time: postings decode into numpy arrays
128 docs at a time and score vectorized — same pruning principle
(skip doc ranges whose score upper bound can't beat the current k-th score),
rank-identical results, better constant factors in Python.

Pruning design ("windowed BMW"): the segment's docID space is cut into fixed
windows of 4096 docs (``window_bits=12``).  For each query term, per-block
max impacts (impacts.py) are mapped onto the windows each block overlaps
(block_last_docid gives block→docID-range — the skip-list analog,
Lucene90SkipWriter.java:158-218).  A window's upper
bound is the sum (OR) / bounded sum (AND) of per-term window maxima.  Windows
are visited in DESCENDING upper-bound order, so once the top-k heap is full
and the next window's bound is <= the k-th score, everything remaining is
non-competitive and the kernel stops — the same early-termination contract as
TopScoreDocCollector.updateMinCompetitiveScore (TopScoreDocCollector.java:
203-222) + ImpactsDISI block skipping (ImpactsDISI.java:100-131).  A segment
whose docIDs all fall in ONE window (seg_size <= 4096: every index up to
~131k docs with the default ``build_index`` seg_size) has nothing to skip,
so it is scored exhaustively — the bounds would only cost time.

Scoring contracts (must match oracle exactly):
  - per-term float32 score (similarity.BM25Scorer);
  - clause sum accumulated in float64 **in query clause order**, cast to
    float32 (DisjunctionSumScorer.java:38-44);
  - AND-of-terms inside a mixed query rounds its sum to float32 *before* the
    outer OR sums it (ConjunctionScorer.java:59-65 returns float);
  - ties: score desc, then docID asc (TopScoreDocCollector.java:85-95,
    TopDocs.java:93-120).
"""

from __future__ import annotations

import numpy as np

from .codecs import (BLOCK_SIZE, DECODED_COLUMNS, ENCODED_COLUMNS, decode_positions,
                     decode_postings, index_ranges)
from .impacts import max_scores_per_block
from .similarity import BM25Scorer


class TermPostings:
    """Decoded-on-demand posting list for one (term, seg) row.  A row that
    carries its postings decoded (the ``DECODED_COLUMNS`` of a resident
    snapshot row: int32 views of the snapshot) is taken as decoded, as it
    is; any other row decodes its blobs (to int64) on the first
    ``decode()``."""

    def __init__(self, row: dict, seg_size: int):
        self.nblocks = int(row["nblocks"])
        self.n_tail = int(row["n_tail"])
        self.block_last = np.asarray(row["block_last_docid"], dtype=np.int64)
        self.imp_freqs = np.asarray(row["imp_freqs"], dtype=np.int64)
        self.imp_dls = np.asarray(row["imp_dls"], dtype=np.int64)
        self.imp_offsets = np.asarray(row["imp_offsets"], dtype=np.int64)
        self.df_local = int(row["df_local"])
        pb = row.get("pos_blob")  # dict and pandas Series both support .get
        self.pos_blob = bytes(pb) if pb is not None else b""
        self._decoded: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None
        if row.get(DECODED_COLUMNS[0]) is not None:
            self._decoded = tuple(row[c] for c in DECODED_COLUMNS)
        else:
            self._blobs = tuple(bytes(row[c]) for c in ENCODED_COLUMNS)
            self._key = (row.get("term"), row.get("seg"))
        self._positions: np.ndarray | None = None

    def positions_flat(self) -> np.ndarray:
        """All positions concatenated in (docid, position) order — aligned
        with np.repeat(docids, freqs).  Requires a positions-enabled index."""
        if self._positions is None:
            _, freqs, _ = self.decode()
            if len(self.pos_blob) == 0 and self.df_local > 0:
                # IllegalStateException analog: "field was indexed without
                # position data; cannot run PhraseQuery"
                # (search/PhraseQuery.java:509-514)
                raise ValueError(
                    "phrase query needs a positions-enabled index — build with "
                    "build_index(..., with_positions=True)"
                )
            self._positions = decode_positions(self.pos_blob, freqs)
        return self._positions

    def decode(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """→ (docids, freqs, dls) — posting rows are self-contained."""
        if self._decoded is None:
            doc, freq, dl, tail = self._blobs
            self._decoded = decode_postings(doc, freq, tail, self.n_tail, self.nblocks,
                                            dl_blob=dl, key=self._key)
        return self._decoded

    def block_ranges(self) -> tuple[np.ndarray, np.ndarray]:
        """(first_docid, last_docid) per block incl. the tail pseudo-block.

        first_docid is a lower bound (prev block's last + 1); exact firsts
        aren't needed for upper-bound window mapping.
        """
        ntotal = self.nblocks + (1 if self.n_tail else 0)
        lasts = np.empty(ntotal, dtype=np.int64)
        lasts[: self.nblocks] = self.block_last
        if self.n_tail:
            lasts[-1] = self.decode()[0][-1]
        firsts = np.empty(ntotal, dtype=np.int64)
        firsts[0] = 0
        firsts[1:] = lasts[:-1] + 1
        return firsts, lasts


def window_max_scores(
    tp: TermPostings, scorer: BM25Scorer, n_windows: int, window_bits: int
) -> np.ndarray:
    """Max possible score of the term per docID window (0 where term absent).

    Vectorized block→window painting: each block overlaps windows
    [w0, w1]; the (block, window) incidence expands with repeat/arange and a
    single np.maximum.at — no per-block Python loop (a head term in a 1M-doc
    segment has ~7,800 blocks)."""
    out = np.zeros(n_windows, dtype=np.float64)
    ntotal = tp.nblocks + (1 if tp.n_tail else 0)
    if ntotal == 0:
        return out
    bmax = max_scores_per_block(tp.imp_freqs, tp.imp_dls, tp.imp_offsets, scorer)
    firsts, lasts = tp.block_ranges()
    w0 = firsts >> window_bits
    w1 = lasts >> window_bits
    idx = index_ranges(w0, w1 - w0 + 1)
    np.maximum.at(out, idx, np.repeat(bmax[:ntotal], w1 - w0 + 1))
    return out


def window_presence(tp: TermPostings, n_windows: int, window_bits: int) -> np.ndarray:
    """Boolean mask of docID windows the term's blocks overlap — the
    scorer-free presence test used for bounding interval nodes (whose score
    bound is the query boost, not a per-term impact)."""
    out = np.zeros(n_windows, dtype=bool)
    ntotal = tp.nblocks + (1 if tp.n_tail else 0)
    if ntotal == 0:
        return out
    firsts, lasts = tp.block_ranges()
    w0 = firsts >> window_bits
    w1 = lasts >> window_bits
    out[index_ranges(w0, w1 - w0 + 1)] = True
    return out


def _topk_from_scored(docids: np.ndarray, scores: np.ndarray, k: int):
    """(score desc, docid asc) top-k."""
    if len(docids) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    order = np.lexsort((docids, -scores))[:k]
    return docids[order], scores[order]


def score_intersection(
    term_lists: list[tuple[np.ndarray, np.ndarray, np.ndarray]],
    scorers: list[BM25Scorer],
    precision: str,
) -> tuple[np.ndarray, np.ndarray]:
    """Exhaustive AND (leapfrog analog, vectorized set intersection).

    Intersection is driven rarest-first (SURVEY §4 / Lucene's
    ConjunctionUtils cost ordering: the scorer with the lowest cost leads the
    leapfrog) — the candidate set collapses to <= min(df) immediately, so a
    head term never gets scanned as the driver.  Scoring still accumulates
    in QUERY CLAUSE ORDER (the float-sum contract is order-sensitive)."""
    if not term_lists:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    by_cost = sorted(range(len(term_lists)), key=lambda i: len(term_lists[i][0]))
    common = term_lists[by_cost[0]][0]
    for i in by_cost[1:]:
        common = common[np.isin(common, term_lists[i][0], assume_unique=True)]
        if len(common) == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    acc = np.zeros(len(common), dtype=np.float64)
    for (docids, freqs, dls), scorer in zip(term_lists, scorers):
        pos = np.searchsorted(docids, common)
        acc += scorer.score_from_dl(freqs[pos], dls[pos]).astype(np.float64)
    if precision == "lucene":
        acc = acc.astype(np.float32).astype(np.float64)
    return common, acc


_POS_SHIFT = np.int64(32)
_POS_BIAS = np.int64(64)  # query-position offsets are tiny; keeps keys positive


def _phrase_eval(members, postings_by_term, pos_by_term, scorer, precision):
    """ExactPhraseMatcher analog (search/ExactPhraseMatcher.java:39), fully
    vectorized: a doc position p matches when every member term i appears at
    p + qoff_i.  Keys (docid<<32 | normalized position) intersect across
    members; phrase freq = per-doc surviving-key count; BM25 on phraseFreq
    with the multi-term weight (PhraseWeight → SimScorer over all terms).

    A member may be a LIST of alternative terms — MultiPhraseQuery
    (search/MultiPhraseQuery.java:48: "three-level phrase", e.g.
    "app*" expanded per position): the member's position set is the UNION of
    its alternatives' positions (UnionPostingsEnum,
    MultiPhraseQuery.java:290-340)."""
    keys = []
    for member, qoff in members:
        alts = member if isinstance(member, (list, tuple)) else (member,)
        ks = []
        for term in alts:
            if term not in postings_by_term or term not in pos_by_term:
                continue
            d, f, _ = postings_by_term[term]
            p = pos_by_term[term]
            ks.append((np.repeat(d, f) << _POS_SHIFT) | (p - np.int64(qoff) + _POS_BIAS))
        if not ks:
            # a required position with no alternative present → no match
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        keys.append(ks[0] if len(ks) == 1 else np.unique(np.concatenate(ks)))
    cand = keys[0]
    for k in keys[1:]:
        cand = cand[np.isin(cand, k, assume_unique=True)]
        if len(cand) == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    docs = cand >> _POS_SHIFT
    udocs, counts = np.unique(docs, return_counts=True)
    m0 = members[0][0]
    alts0 = m0 if isinstance(m0, (list, tuple)) else (m0,)
    dl = np.zeros(len(udocs), dtype=np.int64)
    for t in alts0:
        if t not in postings_by_term:
            continue
        d0, _, dl0 = postings_by_term[t]
        if len(d0) == 0:
            continue
        pos = np.searchsorted(d0, udocs)
        pos_c = np.minimum(pos, len(d0) - 1)
        hit = (pos < len(d0)) & (d0[pos_c] == udocs)
        dl[hit] = dl0[pos_c[hit]]
    s = scorer.score_from_dl(counts, dl).astype(np.float64)
    return udocs, s


def lucene_sloppy_freq(adjs, offsets, terms, slop, f32=True) -> float:
    """Sloppy phrase frequency of ONE document — a faithful transliteration
    of SloppyPhraseMatcher's PhraseQueue walk (SloppyPhraseMatcher.java:
    nextMatch at :178-206, PhraseQueue.lessThan ordering, PhrasePositions
    position = tp - offset), including the repeating-term init (group sorted
    by offset, j-th pp pre-advanced j times, advanceRepeatGroups at :435-466)
    and collision resolution (advance the lesser of two colliding pps,
    advanceRpts at :283-322).

    ``adjs``: one sorted int array of OFFSET-ADJUSTED positions per phrase
    member (tp - query offset); ``offsets``: the query offsets; ``terms``:
    member terms (for repeat-group detection).  freq accumulates per match as
    sloppyWeight = 1/(1+matchLength), in float32 like PhraseScorer's
    ``float freq`` (:32,76-78) when ``f32``.
    """
    import heapq

    n = len(adjs)
    pps = [
        {"arr": a, "i": 0, "pos": int(a[0]), "off": off, "ord": o, "ser": 0}
        for o, (a, off) in enumerate(zip(adjs, offsets))
    ]
    end = max(pp["pos"] for pp in pps)

    def advance(pp):
        nonlocal end
        pp["i"] += 1
        if pp["i"] >= len(pp["arr"]):
            return False
        pp["pos"] = int(pp["arr"][pp["i"]])
        if pp["pos"] > end:
            end = pp["pos"]
        return True

    # repeat groups: members sharing a term, sorted by query offset; j-th
    # pre-advanced j times so no two start on the same token position
    groups: dict[str, list] = {}
    for pp, t in zip(pps, terms):
        groups.setdefault(t, []).append(pp)
    rpt_groups = [sorted(g, key=lambda p: p["off"]) for g in groups.values() if len(g) > 1]
    for rg in rpt_groups:
        for j in range(1, len(rg)):
            for _ in range(j):
                if not advance(rg[j]):
                    return 0.0
        for pp in rg:
            pp["grp"] = rg
    end = max(end, max(pp["pos"] for pp in pps))

    heap: list = []
    for pp in pps:
        heapq.heappush(heap, ((pp["pos"], pp["off"], pp["ord"]), pp["ser"], pp))

    def pop_valid():
        while heap:
            key, ser, pp = heapq.heappop(heap)
            if ser == pp["ser"]:
                return pp
        return None

    def top_pos():
        while heap:
            key, ser, pp = heap[0]
            if ser == pp["ser"]:
                return key[0]
            heapq.heappop(heap)
        return None

    def push(pp):
        heapq.heappush(heap, ((pp["pos"], pp["off"], pp["ord"]), pp["ser"], pp))

    def resolve_collisions(pp):
        """advanceRpts: if pp collides (same token position) with a repeat of
        the same term, advance the lesser of the two until resolved."""
        if "grp" not in pp:
            return True, pp
        while True:
            other = None
            for pp2 in pp["grp"]:
                if pp2 is not pp and pp2["i"] < len(pp2["arr"]) and \
                        pp2["pos"] + pp2["off"] == pp["pos"] + pp["off"]:
                    other = pp2
                    break
            if other is None:
                return True, pp
            lesser = pp if (pp["pos"], pp["off"]) < (other["pos"], other["off"]) else other
            if lesser is not pp:
                # advancing an in-queue pp: invalidate its heap entry
                lesser["ser"] += 1
            if not advance(lesser):
                return False, pp
            if lesser is not pp:
                push(lesser)
            else:
                pp = lesser
        return True, pp

    freq32 = np.float32(0.0)
    freq64 = 0.0
    positioned = True
    while positioned:
        pp = pop_valid()
        if pp is None:
            break
        match_length = end - pp["pos"]
        nxt = top_pos()
        if nxt is None:
            nxt = pp["pos"]  # degenerate single-member (shouldn't happen)
        while True:
            if not advance(pp):
                positioned = False
                break
            ok, pp = resolve_collisions(pp)
            if not ok:
                positioned = False
                break
            if pp["pos"] > nxt:  # done minimizing current match length
                push(pp)
                if match_length <= slop:
                    break  # match found — next outer iteration continues
                pp = pop_valid()
                if pp is None:
                    positioned = False
                    break
                nxt = top_pos()
                if nxt is None:
                    positioned = False
                    break
                match_length = end - pp["pos"]
            else:
                ml2 = end - pp["pos"]
                if ml2 < match_length:
                    match_length = ml2
        if match_length <= slop:
            w = np.float32(1.0) / (np.float32(1.0) + np.float32(match_length))
            freq32 = np.float32(freq32 + w)
            freq64 += 1.0 / (1.0 + float(match_length))
    return float(freq32) if f32 else freq64


def _sloppy_freqs_2term_batch(arrs, offsets, cand, slop, f32) -> np.ndarray:
    """Vectorized 2-distinct-term sloppy phrase frequencies for ALL candidate
    docs at once — the numpy lockstep form of :func:`lucene_sloppy_freq`.

    For two distinct members the SloppyPhraseMatcher PhraseQueue walk
    (SloppyPhraseMatcher.java:178-206) reduces to an alternating leapfrog
    over the two offset-adjusted position lists A and B of each doc:

    - the first anchor is ``v0 = max(A[0], B[0])`` (on a tie the pp with the
      larger (offset, ord) key stays in the queue — PhraseQueue.lessThan);
    - each anchor ``v`` in list L contributes a match of length
      ``v - pred_M(v)`` (predecessor = largest element <= v in the OTHER
      list M — the inner advance-while-pos<=nxt loop), weighted
      ``1/(1+len)`` when len <= slop;
    - the next anchor is ``succ_M(v)`` (smallest element > v), switching
      lists; the walk ends when no successor exists (the final match IS
      counted, matching the positioned=False path).

    Anchors are data-dependent per doc, so docs run in LOCKSTEP: one numpy
    iteration advances every still-active doc by one anchor.  Per-doc
    predecessor/successor lookups become ONE global ``searchsorted`` by
    encoding (doc_index, adjusted_position) into a single int64 key — both
    flattened lists are sorted by that key.  Iteration count = max anchors
    over the batch (bounded by max freq per doc), so a head bigram over
    thousands of candidate docs costs a handful of vectorized passes instead
    of thousands of interpreted heap walks.

    float32 mode accumulates per doc in anchor order with float32 adds —
    identical rounding to PhraseScorer's ``float freq`` accumulation.
    Equivalence with the scalar walk is fuzz-asserted in
    tests/test_phrase_advanced.py (random position lists, both precisions).
    """
    (dA, fA, _dlA, posA, pstartA), (dB, fB, _dlB, posB, pstartB) = arrs
    offA, offB = int(offsets[0]), int(offsets[1])
    n = len(cand)
    jA = np.searchsorted(dA, cand)
    jB = np.searchsorted(dB, cand)
    sA, cAcnt = pstartA[jA], fA[jA]
    sB, cBcnt = pstartB[jB], fB[jB]

    def gather(pos, starts, counts, off):
        total = int(counts.sum())
        news = np.cumsum(counts) - counts
        idx = np.arange(total, dtype=np.int64) - np.repeat(news, counts) \
            + np.repeat(starts, counts)
        return pos[idx].astype(np.int64) - off, news.astype(np.int64), \
            counts.astype(np.int64)

    flatA, startA, cntA = gather(posA, sA, cAcnt, offA)
    flatB, startB, cntB = gather(posB, sB, cBcnt, offB)
    # composite (doc, pos) key: adjusted positions are >= -max(offA, offB)
    shift_add = max(offA, offB) + 1
    SHIFT = np.int64(1) << np.int64(40)  # positions+shift_add < 2^40
    docsA = np.repeat(np.arange(n, dtype=np.int64), cntA)
    docsB = np.repeat(np.arange(n, dtype=np.int64), cntB)
    keyA = docsA * SHIFT + (flatA + shift_add)
    keyB = docsB * SHIFT + (flatB + shift_add)

    a0 = flatA[startA]
    b0 = flatB[startB]
    # anchor side: 1 = anchor in B (A advances), 0 = anchor in A.  On a
    # position tie the pp with the LESSER (pos, off, ord) pops first and
    # advances, leaving the other as the anchor.
    if (offA, 0) < (offB, 1):
        tie_side = np.int8(1)  # A pops -> anchor is B
    else:
        tie_side = np.int8(0)
    side = np.where(b0 > a0, np.int8(1), np.where(a0 > b0, np.int8(0), tie_side))
    v = np.maximum(a0, b0)

    freq32 = np.zeros(n, dtype=np.float32)
    freq64 = np.zeros(n, dtype=np.float64)
    active = np.ones(n, dtype=bool)
    docix = np.arange(n, dtype=np.int64)
    while active.any():
        ai = docix[active]
        av = v[active]
        aside = side[active]
        akey = ai * SHIFT + (av + shift_add)
        # opposite list per doc: B where anchor in A, A where anchor in B
        inB = aside == 1  # anchor in B -> opposite is A
        idxA = np.searchsorted(keyA, akey[inB], side="right")
        idxB = np.searchsorted(keyB, akey[~inB], side="right")
        gap = np.empty(len(ai), dtype=np.int64)
        # predecessor always exists (the opposite pointer is <= anchor)
        gap[inB] = av[inB] - (keyA[idxA - 1] - ai[inB] * SHIFT - shift_add)
        gap[~inB] = av[~inB] - (keyB[idxB - 1] - ai[~inB] * SHIFT - shift_add)
        # successor: next element of the opposite list still in this doc
        # (adjusted positions may be NEGATIVE, so aliveness is a separate
        # mask — no sentinel value can be reserved)
        nv = np.zeros(len(ai), dtype=np.int64)
        has_next = np.zeros(len(ai), dtype=bool)
        endA = (startA + cntA)[ai[inB]]
        okA = idxA < endA
        tmp = np.zeros(idxA.shape, dtype=np.int64)
        tmp[okA] = keyA[np.minimum(idxA, len(keyA) - 1)[okA]] \
            - ai[inB][okA] * SHIFT - shift_add
        nv[inB] = tmp
        hn = np.zeros(len(ai), dtype=bool)
        hn[inB] = okA
        endB = (startB + cntB)[ai[~inB]]
        okB = idxB < endB
        tmp = np.zeros(idxB.shape, dtype=np.int64)
        tmp[okB] = keyB[np.minimum(idxB, len(keyB) - 1)[okB]] \
            - ai[~inB][okB] * SHIFT - shift_add
        nv[~inB] = tmp
        hn[~inB] = okB
        has_next = hn
        matched = gap <= slop
        if f32:
            w = (np.float32(1.0) / (np.float32(1.0) + gap.astype(np.float32)))
            upd = freq32[ai]
            upd[matched] = (upd[matched] + w[matched]).astype(np.float32)
            freq32[ai] = upd
        else:
            w = 1.0 / (1.0 + gap.astype(np.float64))
            upd = freq64[ai]
            upd[matched] += w[matched]
            freq64[ai] = upd
        v[ai] = nv
        side[ai] = 1 - aside  # anchor switches lists
        act = active.copy()
        act[ai[~has_next]] = False
        active = act
    return freq32.astype(np.float64) if f32 else freq64


def _sloppy_eval(members, slop, postings_by_term, pos_by_term, scorer, precision):
    """SloppyPhraseMatcher semantics, per candidate document (candidates =
    the conjunction of all member terms, ConjunctionDISI in the reference —
    SloppyPhraseMatcher.java:103).  Each candidate doc runs the faithful
    PhraseQueue walk (:func:`lucene_sloppy_freq`); docs with freq > 0 score
    BM25(sloppyFreq) under the multi-term phrase weight."""
    arrs = []
    for t, qoff in members:
        if t not in postings_by_term or t not in pos_by_term:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        d, f, dl = postings_by_term[t]
        if len(d) == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        arrs.append((d, f, dl, pos_by_term[t], np.cumsum(f) - f))
    cand = arrs[0][0]
    for d, _, _, _, _ in arrs[1:]:
        cand = cand[np.isin(cand, d, assume_unique=True)]
        if len(cand) == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    offsets = [qoff for _, qoff in members]
    terms = [t for t, _ in members]
    f32 = precision == "lucene"
    if len(members) == 2 and terms[0] != terms[1]:
        # vectorized lockstep leapfrog — the common head-bigram shape;
        # one numpy pass per anchor across ALL candidate docs
        freqs = _sloppy_freqs_2term_batch(arrs, offsets, cand, slop, f32)
    else:
        # faithful scalar PhraseQueue walk: >= 3 members or repeat groups
        freqs = np.empty(len(cand), dtype=np.float64)
        for ci, doc in enumerate(cand):
            adjs = []
            for (d, f, dl, pos, pstart), off in zip(arrs, offsets):
                j = int(np.searchsorted(d, doc))
                s, c = int(pstart[j]), int(f[j])
                adjs.append(pos[s : s + c] - off)
            freqs[ci] = lucene_sloppy_freq(adjs, offsets, terms, slop, f32)
    hit = freqs > 0
    if not hit.any():
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    udocs = cand[hit]
    d0 = arrs[0][0]
    dl = arrs[0][2][np.searchsorted(d0, udocs)]
    s = scorer.score_from_dl(freqs[hit], dl).astype(np.float64)
    return udocs, s


def score_query_node(node, postings_by_term, scorers_by_term, precision, pos_by_term=None):
    """Evaluate a boolean tree exhaustively → (docids, float64 scores).

    node: ("term", t) | ("and", [t...]) | ("not", node, [t...]) |
          ("or", [node...]) | ("phrase", [(t, qoff)...], scorer) |
          ("dismax", [node...], tie) | ("msm", [t...], m) |
          ("syn", [t...], scorer).
    postings_by_term: {term: (docids, freqs, dls)};
    pos_by_term: {term: flat positions} (phrase nodes only).
    """
    kind = node[0]
    if kind in ("spannear", "spanor", "spanfirst", "spanprange", "spannot", "spancontaining", "spanwithin"):
        from .spans import span_eval

        return span_eval(node, postings_by_term, pos_by_term or {}, precision)
    if kind == "termauto":
        from .termautomaton import termauto_eval

        return termauto_eval(node, postings_by_term, pos_by_term or {}, precision)
    if kind == "interval_query":
        from .intervals import interval_eval

        return interval_eval(node, postings_by_term, pos_by_term or {}, precision)
    if kind == "phrase":
        return _phrase_eval(node[1], postings_by_term, pos_by_term or {}, node[2], precision)
    if kind == "sloppy":
        return _sloppy_eval(
            node[1], node[2], postings_by_term, pos_by_term or {}, node[3], precision
        )
    if kind == "dismax":
        # DisjunctionMaxScorer (search/DisjunctionMaxScorer.java:29):
        # score = max + tieBreaker * (sum - max), double math, float cast.
        tie = node[2]
        subs = [
            score_query_node(c, postings_by_term, scorers_by_term, precision, pos_by_term)
            for c in node[1]
        ]
        subs = [(d, s) for d, s in subs if len(d)]
        if not subs:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        all_docs = np.unique(np.concatenate([d for d, _ in subs]))
        mx = np.zeros(len(all_docs), dtype=np.float64)
        sm = np.zeros(len(all_docs), dtype=np.float64)
        for d, s in subs:
            pos = np.searchsorted(all_docs, d)
            np.add.at(sm, pos, s)
            np.maximum.at(mx, pos, s)
        acc = mx + tie * (sm - mx)
        if precision == "lucene":
            acc = acc.astype(np.float32).astype(np.float64)
        return all_docs, acc
    if kind == "msm":
        # minimumNumberShouldMatch (BooleanQuery.java:40; WANDScorer supports
        # it): docs matching >= m SHOULD terms, score = sum of matching terms.
        terms, m = node[1], node[2]
        present = [t for t in terms if t in postings_by_term]
        if len(present) < m:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        all_docs = np.unique(np.concatenate([postings_by_term[t][0] for t in present]))
        acc = np.zeros(len(all_docs), dtype=np.float64)
        nmatch = np.zeros(len(all_docs), dtype=np.int64)
        for t in present:
            docids, freqs, dls = postings_by_term[t]
            pos = np.searchsorted(all_docs, docids)
            acc[pos] += scorers_by_term[t].score_from_dl(freqs, dls).astype(np.float64)
            nmatch[pos] += 1
        keep = nmatch >= m
        acc = acc[keep]
        if precision == "lucene":
            acc = acc.astype(np.float32).astype(np.float64)
        return all_docs[keep], acc
    if kind == "syn":
        # SynonymQuery (search/SynonymQuery.java:52,330-347): members scored
        # as ONE pseudo-term — freqs summed, one weight from merged stats.
        terms, scorer = node[1], node[2]
        present = [t for t in terms if t in postings_by_term]
        if not present:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        all_docs = np.unique(np.concatenate([postings_by_term[t][0] for t in present]))
        fsum = np.zeros(len(all_docs), dtype=np.int64)
        dl = np.zeros(len(all_docs), dtype=np.int64)
        for t in present:
            docids, freqs, dls = postings_by_term[t]
            pos = np.searchsorted(all_docs, docids)
            np.add.at(fsum, pos, freqs)
            dl[pos] = dls
        s = scorer.score_from_dl(fsum, dl).astype(np.float64)
        return all_docs, s
    if kind == "reqopt":
        # ReqOptSumScorer (search/ReqOptSumScorer.java:30): required clause's
        # matches, plus optional term scores where they co-match.
        d, s = score_query_node(node[1], postings_by_term, scorers_by_term,
                                precision, pos_by_term)
        if len(d) == 0:
            return d, s
        acc = s.copy()
        for t in node[2]:
            if t not in postings_by_term:
                continue
            od, of, odl = postings_by_term[t]
            pos = np.searchsorted(od, d)
            pos_c = np.clip(pos, 0, max(len(od) - 1, 0))
            hit = (pos < len(od)) & (od[pos_c] == d)
            if hit.any():
                acc[hit] += scorers_by_term[t].score_from_dl(
                    of[pos_c[hit]], odl[pos_c[hit]]
                ).astype(np.float64)
        if precision == "lucene":
            acc = acc.astype(np.float32).astype(np.float64)
        return d, acc
    if kind == "term":
        t = node[1]
        if t not in postings_by_term:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        docids, freqs, dls = postings_by_term[t]
        s = scorers_by_term[t].score_from_dl(freqs, dls).astype(np.float64)
        return docids, s
    if kind == "const":
        # ConstantScoreQuery / CONSTANT_SCORE MultiTermQuery rewrite
        # (search/ConstantScoreQuery.java:33): every matching doc scores the
        # query weight, frequency-independent.
        terms, w = node[1], node[2]
        present = [t for t in terms if t in postings_by_term]
        if not present:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        docs = np.unique(np.concatenate([postings_by_term[t][0] for t in present]))
        wv = float(np.float32(w)) if precision == "lucene" else float(w)
        return docs, np.full(len(docs), wv, dtype=np.float64)
    if kind == "andn":
        # ConjunctionScorer over arbitrary sub-scorers
        # (search/ConjunctionScorer.java:59-65: sub scores summed, float cast)
        subs = [
            score_query_node(c, postings_by_term, scorers_by_term, precision, pos_by_term)
            for c in node[1]
        ]
        if any(len(d) == 0 for d, _ in subs):
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        common = subs[0][0]
        for d, _ in subs[1:]:
            common = common[np.isin(common, d, assume_unique=True)]
            if len(common) == 0:
                return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        acc = np.zeros(len(common), dtype=np.float64)
        for d, s in subs:
            acc += s[np.searchsorted(d, common)]
        if precision == "lucene":
            acc = acc.astype(np.float32).astype(np.float64)
        return common, acc
    if kind == "reqoptn":
        # ReqOptSumScorer with arbitrary optional sub-scorers
        d, s = score_query_node(node[1], postings_by_term, scorers_by_term,
                                precision, pos_by_term)
        if len(d) == 0:
            return d, s
        acc = s.copy()
        for c in node[2]:
            od, os_ = score_query_node(c, postings_by_term, scorers_by_term,
                                       precision, pos_by_term)
            if len(od) == 0:
                continue
            pos = np.searchsorted(od, d)
            pos_c = np.clip(pos, 0, len(od) - 1)
            hit = (pos < len(od)) & (od[pos_c] == d)
            if hit.any():
                acc[hit] += os_[pos_c[hit]]
        if precision == "lucene":
            acc = acc.astype(np.float32).astype(np.float64)
        return d, acc
    if kind == "notn":
        # ReqExclScorer with arbitrary excluded sub-queries
        d, s = score_query_node(node[1], postings_by_term, scorers_by_term,
                                precision, pos_by_term)
        for c in node[2]:
            if len(d) == 0:
                break
            nd = match_docids(c, postings_by_term, pos_by_term)
            if len(nd):
                mask = ~np.isin(d, nd, assume_unique=True)
                d, s = d[mask], s[mask]
        return d, s
    if kind == "and":
        terms = node[1]
        if any(t not in postings_by_term for t in terms):
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        return score_intersection(
            [postings_by_term[t] for t in terms],
            [scorers_by_term[t] for t in terms],
            precision,
        )
    if kind == "not":
        # ReqExclScorer analog (search/ReqExclScorer.java:26): positive
        # scores, excluded docs dropped, scoring unaffected.
        d, s = score_query_node(node[1], postings_by_term, scorers_by_term, precision, pos_by_term)
        for t in node[2]:
            if t in postings_by_term and len(d):
                mask = ~np.isin(d, postings_by_term[t][0], assume_unique=True)
                d, s = d[mask], s[mask]
        return d, s
    if kind == "or":
        subs = [
            score_query_node(c, postings_by_term, scorers_by_term, precision, pos_by_term)
            for c in node[1]
        ]
        subs = [(d, s) for d, s in subs if len(d)]
        if not subs:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        all_docs = np.unique(np.concatenate([d for d, _ in subs]))
        acc = np.zeros(len(all_docs), dtype=np.float64)
        for d, s in subs:
            np.add.at(acc, np.searchsorted(all_docs, d), s)
        if precision == "lucene":
            acc = acc.astype(np.float32).astype(np.float64)
        return all_docs, acc
    raise ValueError(f"bad node {node!r}")


def _clause(kind: str, c):
    """A boolean node's member as a node: "and", "not", "reqopt" and "msm"
    nodes list bare terms where their "andn", "notn", "reqoptn" and "or"
    twins list sub-clauses."""
    return ("term", c) if kind in ("and", "not", "reqopt", "msm") else c


def match_docids(node, postings_by_term, pos_by_term=None) -> np.ndarray:
    """Matching docID set of a boolean tree — NO scoring (the
    TotalHitCountCollector fast path, search/TotalHitCountCollector.java:28:
    counting never computes scores; Lucene short-circuits to Weight#count
    where possible, here term counts come straight from posting lengths)."""
    kind = node[0]
    if kind == "term":
        t = node[1]
        if t not in postings_by_term:
            return np.empty(0, dtype=np.int64)
        return postings_by_term[t][0]
    if kind in ("and", "andn"):
        subs = [match_docids(_clause(kind, c), postings_by_term, pos_by_term) for c in node[1]]
        if any(len(d) == 0 for d in subs):
            return np.empty(0, dtype=np.int64)
        subs.sort(key=len)
        common = subs[0]
        for d in subs[1:]:
            common = common[np.isin(common, d, assume_unique=True)]
            if len(common) == 0:
                break
        return common
    if kind in ("not", "notn"):
        d = match_docids(node[1], postings_by_term, pos_by_term)
        for c in node[2]:
            if len(d) == 0:
                break
            nd = match_docids(_clause(kind, c), postings_by_term, pos_by_term)
            if len(nd):
                d = d[~np.isin(d, nd, assume_unique=True)]
        return d
    if kind in ("reqopt", "reqoptn", "boost"):
        # optional clauses don't gate matching — ReqOptSumScorer matches = req
        return match_docids(node[1], postings_by_term, pos_by_term)
    if kind in ("const", "syn"):
        present = [t for t in node[1] if t in postings_by_term]
        if not present:
            return np.empty(0, dtype=np.int64)
        return np.unique(np.concatenate([postings_by_term[t][0] for t in present]))
    if kind == "msm":
        terms, m = node[1], node[2]
        present = [t for t in terms if t in postings_by_term]
        if len(present) < m:
            return np.empty(0, dtype=np.int64)
        allv = np.concatenate([postings_by_term[t][0] for t in present])
        u, c = np.unique(allv, return_counts=True)
        return u[c >= m]
    if kind in ("or", "dismax"):
        subs = [match_docids(c, postings_by_term, pos_by_term) for c in node[1]]
        subs = [d for d in subs if len(d)]
        if not subs:
            return np.empty(0, dtype=np.int64)
        return np.unique(np.concatenate(subs))
    if kind in ("phrase", "sloppy", "spannear", "spanor", "spanfirst", "spanprange",
                "spannot", "spancontaining", "spanwithin", "interval_query",
                "termauto"):
        # positional nodes need the scored evaluation to decide matching
        d, _ = score_query_node(node, postings_by_term, {}, "float64", pos_by_term)
        return d
    raise ValueError(f"bad node {node!r}")


def decode_segment(
    node,
    term_rows: dict,
    seg_size: int,
    allow: np.ndarray | None = None,
    deny: np.ndarray | None = None,
) -> tuple[dict, dict, dict | None]:
    """One segment's posting rows → ``(tps, postings_by_term, pos_by_term)``
    restricted to the allowed, live docs — the per-leaf decode every query
    entry point shares (LeafReader postings + liveDocs/FILTER acceptDocs).

    ``term_rows``: term → posting row (a dict, or a TermPostings, so that a
    search_many batch decodes each posting list once, not once per query).
    ``tps`` keeps the unmasked TermPostings (their impact bounds remain
    valid upper bounds for pruning); ``pos_by_term`` holds the positions of
    the node's phrase members, None when it has none; positional evaluation
    keys a posting by ``docid << 32``, so their docids are widened to int64
    (resident rows carry int32).  ``allow`` / ``deny``: sorted local docIDs
    to keep / drop; a term's positions are cut with the same mask repeated
    per freq, so they stay aligned with its postings."""
    tps = {
        t: (r if isinstance(r, TermPostings) else TermPostings(r, seg_size))
        for t, r in term_rows.items()
    }
    postings_by_term = {t: tp.decode() for t, tp in tps.items()}
    phrase_terms = _phrase_member_terms(node)
    pos_by_term = {
        t: tps[t].positions_flat() for t in phrase_terms if t in tps
    } if phrase_terms else None
    for t in pos_by_term or ():
        d, f, dl = postings_by_term[t]
        postings_by_term[t] = (d.astype(np.int64, copy=False), f, dl)
    if allow is not None or deny is not None:
        for t, (d, f, dl) in list(postings_by_term.items()):
            m = np.ones(len(d), dtype=bool)
            if allow is not None:
                m &= np.isin(d, allow, assume_unique=True)
            if deny is not None:
                m &= ~np.isin(d, deny, assume_unique=True)
            postings_by_term[t] = (d[m], f[m], dl[m])
            if pos_by_term is not None and t in pos_by_term:
                pos_by_term[t] = pos_by_term[t][np.repeat(m, f)]
    return tps, postings_by_term, pos_by_term


def segment_topk(
    node,
    term_rows: dict[str, dict],
    scorers_by_term: dict[str, BM25Scorer],
    seg_size: int,
    k: int,
    precision: str = "lucene",
    prune: bool = True,
    window_bits: int = 12,
    allow: np.ndarray | None = None,
    deny: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k for one segment with windowed block-max pruning over windows
    of ``2**window_bits`` docs (4096).

    Returns (local docids, float64 scores holding float32-rounded values in
    lucene mode).  With ``prune=False`` runs the exhaustive path (the oracle
    duel's "CheckHits" twin — CheckHits.java:602).  The exhaustive path
    also runs when pruning cannot pay: a segment whose local docIDs all fall
    in one window (``(seg_size - 1) >> window_bits == 0``), where no window
    can be skipped, or a query whose postings are too few to make the k-th
    score competitive.

    ``allow``: optional sorted array of local docIDs — the FILTER clause mask
    (non-scoring required match); postings are restricted BEFORE ranking, and
    the unfiltered impact bounds remain valid upper bounds for pruning.
    ``deny``: optional sorted array of local docIDs to EXCLUDE — the liveDocs
    tombstone mask (deletes applied at read, LiveDocsFormat analog).
    ``after``: searchAfter cursor ``(score, local_docid_cut)`` — only hits
    STRICTLY after the cursor in (score desc, docid asc) order are
    competitive (PagingTopScoreDocCollector.collect,
    search/TopScoreDocCollector.java:120-158: ``score > afterScore ||
    (score == afterScore && docid <= afterDoc)`` is skipped).  The caller
    converts its global cursor docid to this segment's local space; a
    cursor outside the segment's range degenerates correctly (cut < 0 →
    every equal-score doc qualifies; cut >= seg_size → none does).  The
    pruning threshold stays valid: kth is the kth AFTER-FILTERED score, and
    a window whose upper bound is below it cannot contain a competitive hit.
    """
    tps, postings_by_term, pos_by_term = decode_segment(
        node, term_rows, seg_size, allow, deny)

    # cost-based strategy selection (BooleanWeight.scorerSupplier cost
    # heuristics, search/BooleanWeight.java:318-392): exhaustive scoring is
    # cheaper than building per-window bounds when the segment is one
    # window (there is no other window to skip) or when the union of the
    # query terms' postings cannot exceed ~2k docs (the pruning machinery
    # would visit every window anyway because the k-th score never becomes
    # competitive with so few candidates).  Both strategies are
    # rank-identical (asserted by the duel suite), so this is purely a
    # physical choice, like Lucene swapping BulkScorer implementations.
    if prune and ((seg_size - 1) >> window_bits == 0
                  or sum(len(d) for d, _, _ in postings_by_term.values())
                  <= max(2 * k, 256)):
        prune = False

    if not prune:
        d, s = score_query_node(node, postings_by_term, scorers_by_term, precision, pos_by_term)
        if after is not None:
            m = _after_mask(d, s, after)
            d, s = d[m], s[m]
        return _topk_from_scored(d, s, k)

    # ---- windowed block-max pruning path ----
    n_windows = (seg_size >> window_bits) + 1

    def node_ub(n_) -> np.ndarray:
        """Recursive per-window score upper bound for a query node.

        AND: sum of member bounds, zeroed where any member is absent
        (BlockMaxConjunctionScorer.java:30 semantics); OR: sum of clause
        bounds (WANDScorer/MaxScoreSumPropagator); NOT: bound of the positive
        side (exclusion only lowers scores — still a valid upper bound).
        """
        kind_ = n_[0]
        if kind_ == "term":
            t = n_[1]
            if t not in tps:
                return np.zeros(n_windows, dtype=np.float64)
            return window_max_scores(tps[t], scorers_by_term[t], n_windows, window_bits)
        if kind_ in ("and", "andn"):
            # BlockMaxConjunction: summed bounds, zeroed where any member
            # provably has no match in the window
            acc = np.zeros(n_windows, dtype=np.float64)
            present = np.ones(n_windows, dtype=bool)
            for c in n_[1]:
                wms = node_ub(_clause(kind_, c))
                acc += wms
                present &= wms > 0
            acc[~present] = 0.0
            return acc
        if kind_ in ("not", "notn"):
            return node_ub(n_[1])
        if kind_ in ("reqopt", "reqoptn"):
            # req bound gates the window; optional bounds add on top
            req_ub = node_ub(n_[1])
            acc = req_ub.copy()
            for c in n_[2]:
                acc += node_ub(_clause(kind_, c))
            acc[req_ub <= 0] = 0.0
            return acc
        if kind_ == "const":
            # matching docs score exactly w — w is the window bound wherever
            # any member term has postings
            present = np.zeros(n_windows, dtype=bool)
            for t in n_[1]:
                if t in tps:
                    present |= node_ub(("term", t)) > 0
            acc = np.zeros(n_windows, dtype=np.float64)
            acc[present] = float(n_[2])
            return acc
        if kind_ == "phrase":
            # valid bound: phraseFreq <= (union) tf of every member, and
            # score is monotone in freq — min over members of the member
            # frontier scored with the PHRASE weight (zero where any member
            # absent); a multi-phrase member's frontier is the SUM of its
            # alternatives' frontiers (union tf <= Σ alternative tfs).
            scorer = n_[2]
            acc = None
            for m, _ in n_[1]:
                alts = m if isinstance(m, (list, tuple)) else (m,)
                wms = np.zeros(n_windows, dtype=np.float64)
                seen_any = False
                for t in alts:
                    if t in tps:
                        seen_any = True
                        wms += window_max_scores(tps[t], scorer, n_windows, window_bits)
                if not seen_any:
                    return np.zeros(n_windows, dtype=np.float64)
                acc = wms if acc is None else np.minimum(acc, wms)
            return acc
        if kind_ == "sloppy":
            # Lucene uses DUMMY impacts for sloppy phrases (a useful tight
            # frequency bound doesn't exist — SloppyPhraseMatcher.java:
            # 107-137 builds Impact(Integer.MAX_VALUE, 1L)); the analog is
            # the asymptotic score bound: score = w - w/(1+f*inv) < w, so
            # the phrase WEIGHT bounds every window where all members are
            # present (ConjunctionDISI approximation), zero elsewhere.
            scorer = n_[3]
            if any(t not in tps for t, _ in n_[1]):
                return np.zeros(n_windows, dtype=np.float64)
            present = np.ones(n_windows, dtype=bool)
            for t, _ in n_[1]:
                present &= window_max_scores(tps[t], scorer, n_windows, window_bits) > 0
            out = np.zeros(n_windows, dtype=np.float64)
            out[present] = float(scorer.weight)
            return out
        if kind_ in ("spannear", "spanor", "spanfirst", "spanprange", "spannot", "spancontaining", "spanwithin"):
            # span scores are bounded by the asymptotic weight (score =
            # w - w/(1+f*inv) < w, same argument as the sloppy-phrase bound;
            # Lucene likewise uses dummy MAX_VALUE impacts for spans) on
            # windows where every required term-group has a member present
            from .spans import span_required_groups

            scorer = n_[-1]
            present = np.ones(n_windows, dtype=bool)
            for group in span_required_groups(n_):
                gp = np.zeros(n_windows, dtype=bool)
                for t in group:
                    if t in tps:
                        gp |= window_max_scores(tps[t], scorer, n_windows, window_bits) > 0
                present &= gp
            out = np.zeros(n_windows, dtype=np.float64)
            out[present] = float(scorer.weight)
            return out
        if kind_ == "termauto":
            # TermAutomatonScorer.getMaxScore is sim.score(MAX_VALUE, 1)
            # (TermAutomatonScorer.java:377-379) — bounded by the asymptotic
            # weight; a match needs at least one query-term position, so
            # windows with no member term present bound to zero
            scorer = n_[-1]
            present = np.zeros(n_windows, dtype=bool)
            for t in n_[1]["terms"]:
                if t in tps:
                    present |= window_max_scores(tps[t], scorer, n_windows, window_bits) > 0
            out = np.zeros(n_windows, dtype=np.float64)
            out[present] = float(scorer.weight)
            return out
        if kind_ == "interval_query":
            # IntervalScorer.getMaxScore(upTo) == boost (saturation and
            # sigmoid are both < 1 · weight) — bound every window where all
            # required term-groups have a member present, zero elsewhere.
            from .intervals import interval_required_groups

            boost = n_[4]
            present = np.ones(n_windows, dtype=bool)
            for group in interval_required_groups(n_[1]):
                gp = np.zeros(n_windows, dtype=bool)
                for t in group:
                    if t in tps:
                        gp |= window_presence(tps[t], n_windows, window_bits)
                present &= gp
            out = np.zeros(n_windows, dtype=np.float64)
            out[present] = float(boost)
            return out
        if kind_ == "syn":
            # score(f1+f2) <= score(f1)+score(f2) (concave, score(0)=0), so
            # the sum of member bounds under the SYN weight is a valid bound.
            scorer = n_[2]
            acc = np.zeros(n_windows, dtype=np.float64)
            for t in n_[1]:
                if t in tps:
                    acc += window_max_scores(tps[t], scorer, n_windows, window_bits)
            return acc
        # or / msm / dismax: sum of clause bounds (max + tie*(sum-max) <= sum
        # for tie <= 1)
        acc = np.zeros(n_windows, dtype=np.float64)
        for c in n_[1]:
            acc += node_ub(_clause(kind_, c))
        return acc

    if node[0] == "and" and any(t not in tps for t in node[1]):
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    if node[0] in ("phrase", "sloppy"):
        for m, _ in node[1]:
            alts = m if isinstance(m, (list, tuple)) else (m,)
            if all(t not in tps for t in alts):
                return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    ub = node_ub(node)

    # pre-bin postings by window ONCE; batches then slice instead of rescan
    binned = {
        t: _WinBinned(d, f, dl, (pos_by_term or {}).get(t), window_bits)
        for t, (d, f, dl) in postings_by_term.items()
    }
    has_pos = pos_by_term is not None

    # visit windows in descending upper-bound order; stop when bound <= kth
    order = np.argsort(-ub, kind="stable")
    top_docs = np.empty(0, dtype=np.int64)
    top_scores = np.empty(0, dtype=np.float64)
    kth = -np.inf
    batch: list[int] = []
    processed = 0
    for wi in order:
        if ub[wi] <= 0:
            break
        if len(top_docs) >= k:
            # strict: UB-ordered traversal may visit a tied smaller docID
            # later, and ties are broken by ascending docID — only a
            # strictly smaller bound is provably non-competitive.  In lucene
            # mode the final score is float32(float64 sum), which can round
            # UP past the float64 bound by half a float32 ulp — guard by one
            # ulp below kth so a rounded-to-tie doc is never pruned.
            kth_guard = (
                kth if precision == "float64"
                else float(np.nextafter(np.float32(kth), np.float32(-np.inf)))
            )
            if ub[wi] < kth_guard:
                break
        batch.append(int(wi))
        processed += 1
        if len(batch) >= 16 or processed == len(order):
            top_docs, top_scores, kth = _score_windows(
                batch, window_bits, node, binned, scorers_by_term,
                precision, top_docs, top_scores, k, has_pos, after,
            )
            batch = []
    if batch:
        top_docs, top_scores, kth = _score_windows(
            batch, window_bits, node, binned, scorers_by_term,
            precision, top_docs, top_scores, k, has_pos, after,
        )
    return top_docs, top_scores


def _after_mask(d: np.ndarray, s: np.ndarray, after: tuple[float, int]) -> np.ndarray:
    """Competitive-after filter: keep hits strictly after the (score desc,
    docid asc) cursor.  Exact float comparison is correct because the cursor
    score came from a previous page computed under the same precision mode."""
    a_s, cut = after
    return (s < a_s) | ((s == a_s) & (d > cut))


def _phrase_member_terms(node) -> set[str]:
    """Terms whose positions the node needs (phrase members, recursively)."""
    kind = node[0]
    if kind in ("spannear", "spanor", "spanfirst", "spanprange", "spannot", "spancontaining", "spanwithin"):
        from .spans import span_terms

        return set(span_terms(node))
    if kind == "interval_query":
        from .intervals import interval_terms

        return set(interval_terms(node[1]))
    if kind == "termauto":
        return set(node[1]["terms"])
    if kind in ("phrase", "sloppy"):
        out: set[str] = set()
        for m, _ in node[1]:
            out |= set(m) if isinstance(m, (list, tuple)) else {m}
        return out
    if kind in ("not", "reqopt"):
        return _phrase_member_terms(node[1])
    if kind in ("reqoptn", "notn"):
        out = _phrase_member_terms(node[1])
        for c in node[2]:
            out |= _phrase_member_terms(c)
        return out
    if kind in ("or", "dismax", "andn"):
        out: set[str] = set()
        for c in node[1]:
            out |= _phrase_member_terms(c)
        return out
    return set()


class _WinBinned:
    """Postings pre-binned by window: slicing a window batch is
    searchsorted on the (sorted) per-posting window ids + range gather —
    O(batch + output) instead of an O(df) np.isin rescan per batch (the
    round-1 q_or4_k100 hot spot: every 16-window batch rescanned each
    term's full posting arrays)."""

    def __init__(self, docids, freqs, dls, pos, window_bits):
        self.d, self.f, self.dl, self.pos = docids, freqs, dls, pos
        self.w = docids >> window_bits
        if pos is not None:
            self.pstart = np.cumsum(freqs) - freqs

    def slice(self, windows_sorted: np.ndarray):
        starts = np.searchsorted(self.w, windows_sorted, side="left")
        ends = np.searchsorted(self.w, windows_sorted, side="right")
        sel = index_ranges(starts, ends - starts)
        d, f, dl = self.d[sel], self.f[sel], self.dl[sel]
        pos = None
        if self.pos is not None:
            pos = self.pos[index_ranges(self.pstart[sel], f)] if len(sel) else \
                self.pos[:0]
        return (d, f, dl), pos


def _score_windows(
    windows, window_bits, node, binned, scorers_by_term,
    precision, top_docs, top_scores, k, has_pos, after=None,
):
    """Score the docs falling in the given windows; merge into running top-k."""
    windows = np.sort(np.asarray(windows, dtype=np.int64))
    sub_postings = {}
    sub_pos = {} if has_pos else None
    for t, wb in binned.items():
        sub_postings[t], p = wb.slice(windows)
        if p is not None:
            sub_pos[t] = p
    d, s = score_query_node(node, sub_postings, scorers_by_term, precision, sub_pos)
    if after is not None:
        m = _after_mask(d, s, after)
        d, s = d[m], s[m]
    md = np.concatenate([top_docs, d])
    ms = np.concatenate([top_scores, s])
    td, ts = _topk_from_scored(md, ms, k)
    kth = ts[-1] if len(td) >= k else -np.inf
    return td, ts, kth
