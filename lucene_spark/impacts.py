"""Per-block competitive impacts: the (freq, norm) pareto frontier.

Mirrors Lucene's CompetitiveImpactAccumulator (lucene/core/.../codecs/
CompetitiveImpactAccumulator.java:30-100) + per-skip-block impact
serialization (codecs/lucene90/Lucene90SkipWriter.java:158-218): for each
128-doc block we keep, per distinct norm byte, the max freq, then drop pairs
dominated by another pair with freq' >= freq and norm-length' <= norm-length.
BM25 score is increasing in freq and decreasing in decoded norm length, so
max-over-frontier of score(freq, norm) upper-bounds every doc in the block
(MaxScoreCache.java:34-76).  Storing the frontier (not a precomputed score)
keeps the index parameter-agnostic w.r.t. k1/b/boost.

Frontiers are stored flattened per posting row: freqs int[], norms int[],
block_offsets int[] (prefix offsets into the flat arrays, one per block+1).
"""

from __future__ import annotations

import numpy as np

from .smallfloat import LENGTH_TABLE


def frontier(freqs: np.ndarray, norms: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Pareto frontier of (freq, norm) pairs for one block.

    Returns (freqs, norms) sorted by norm ascending; freq strictly decreasing.
    ``norms`` are the encoded bytes (0..255) whose decoded length is monotone
    in the byte value, so byte order == length order.
    """
    freqs = np.asarray(freqs, dtype=np.int64)
    norms = np.asarray(norms, dtype=np.int64)
    order = np.lexsort((-freqs, norms))
    f, nm = freqs[order], norms[order]
    # keep first (max freq) per norm
    first = np.ones(len(nm), dtype=bool)
    first[1:] = nm[1:] != nm[:-1]
    f, nm = f[first], nm[first]
    # drop pairs whose freq <= running max of earlier (smaller-norm) pairs
    run_max = np.maximum.accumulate(f)
    keep = np.ones(len(f), dtype=bool)
    keep[1:] = f[1:] > run_max[:-1]
    return f[keep], nm[keep]


def block_frontiers(
    docids: np.ndarray, freqs: np.ndarray, norms_by_doc: np.ndarray, block_size: int = 128
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Frontier per 128-block (incl. the tail as a final pseudo-block).

    ``norms_by_doc``: norm byte per posting (aligned with docids/freqs).
    Returns flat (imp_freqs, imp_norms, offsets[nblocks_total+1]).
    """
    n = len(docids)
    nblocks_full = n // block_size
    ntotal = nblocks_full + (1 if n % block_size else 0)
    out_f: list[np.ndarray] = []
    out_n: list[np.ndarray] = []
    offsets = np.zeros(ntotal + 1, dtype=np.int64)
    for bi in range(ntotal):
        sl = slice(bi * block_size, min((bi + 1) * block_size, n))
        f, nm = frontier(freqs[sl], norms_by_doc[sl])
        out_f.append(f)
        out_n.append(nm)
        offsets[bi + 1] = offsets[bi] + len(f)
    if ntotal == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64), offsets
    return np.concatenate(out_f), np.concatenate(out_n), offsets


def max_scores_per_block(
    imp_freqs: np.ndarray, imp_norms: np.ndarray, offsets: np.ndarray, scorer
) -> np.ndarray:
    """Per-block max possible score for a given BM25Scorer — vectorized:
    one ``np.maximum.reduceat`` over the non-empty blocks (their impacts
    are contiguous runs of the flat arrays); an empty block scores 0.0."""
    offsets = np.asarray(offsets)
    out = np.zeros(max(len(offsets) - 1, 0), dtype=np.float64)
    starts = offsets[:-1]
    full = offsets[1:] > starts
    if full.any():
        end = int(offsets[-1])
        all_scores = scorer.score_from_dl(np.asarray(imp_freqs)[:end], np.asarray(imp_norms)[:end])
        out[full] = np.maximum.reduceat(all_scores, starts[full])
    return out
