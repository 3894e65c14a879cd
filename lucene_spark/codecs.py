"""Posting-list block codecs: FOR, PFor, FOR-delta — numpy-vectorized.

Mirrors the *structure* of Lucene's Lucene90 postings blocks (the byte layout
is this engine's own; only ranks must match the reference):
  - 128-value blocks, one bit width per block
    (lucene/core/.../codecs/lucene90/ForUtil.java:32-33 — BLOCK_SIZE=128,
     byte size = bitsPerValue * 16);
  - doc deltas: FOR-delta with an all-1s dense-block marker
    (ForDeltaUtil.java:54-67) and prefix-sum decode;
  - freqs: patched FOR with ≤3 exceptions stored as (index, high-bits) pairs,
    token byte = numExceptions<<5 | bpv, all-equal block → bpv=0 + one varint
    (PForUtil.java:44-109);
  - tail (< 128 values) stored as varints, doc tail interleaved
    (docDelta<<1 | freq==1) like Lucene's vInt postings
    (Lucene90PostingsFormat.java:164-238, Lucene90PostingsWriter.java:223-285).

Encoding/decoding is pure numpy (packbits/unpackbits on bit matrices) — no
per-value Python on the hot path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

BLOCK_SIZE = 128  # ForUtil.java:32

# a posting row's encoded postings, and the columns a row decoded by
# decode_rows carries instead (one list per row)
ENCODED_COLUMNS = ("doc_blob", "freq_blob", "dl_blob", "tail_blob")
DECODED_COLUMNS = ("docids", "freqs", "dls")


def bits_required(max_value: int) -> int:
    return max(1, int(max_value).bit_length())


def pack_bits(values: np.ndarray, bpv: int) -> bytes:
    """Pack uint32 values at ``bpv`` bits each (MSB-first) into bytes."""
    v = np.asarray(values, dtype=np.uint32)
    shifts = np.arange(bpv - 1, -1, -1, dtype=np.uint32)
    bits = ((v[:, None] >> shifts) & 1).astype(np.uint8)
    return np.packbits(bits.ravel()).tobytes()


def unpack_bits(data: bytes, n: int, bpv: int) -> np.ndarray:
    """Inverse of :func:`pack_bits` → uint32[n]."""
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8), count=n * bpv)
    bits = bits.reshape(n, bpv).astype(np.uint32)
    weights = (np.uint32(1) << np.arange(bpv - 1, -1, -1, dtype=np.uint32)).astype(np.uint32)
    return bits @ weights


def write_vints(values: np.ndarray) -> bytes:
    """LEB128 varints for a uint64 array (tails + exception values) —
    fully vectorized (7-bit chunk matrix + keep/continuation masks)."""
    v = np.asarray(values, dtype=np.uint64)
    if len(v) == 0:
        return b""
    k = 10  # max 7-bit groups for 64-bit values
    shifts = (np.uint64(7) * np.arange(k, dtype=np.uint64))
    chunks = ((v[:, None] >> shifts[None, :]) & np.uint64(0x7F)).astype(np.uint8)
    nb = np.ones(len(v), dtype=np.int64)
    for j in range(1, k):
        nb += (v >= (np.uint64(1) << np.uint64(7 * j))).astype(np.int64)
    idx = np.arange(k)[None, :]
    keep = idx < nb[:, None]
    cont = (idx < (nb - 1)[:, None]).astype(np.uint8)
    chunks |= cont << 7
    return chunks[keep].tobytes()


def read_vints(data: bytes, n: int, offset: int = 0) -> tuple[np.ndarray, int]:
    """Read ``n`` varints → (uint64[n], next offset)."""
    out = np.empty(n, dtype=np.uint64)
    pos = offset
    for i in range(n):
        shift = 0
        val = 0
        while True:
            b = data[pos]
            pos += 1
            val |= (b & 0x7F) << shift
            if b < 0x80:
                break
            shift += 7
        out[i] = val
    return out, pos


def read_vints_all(data) -> np.ndarray:
    """Decode EVERY varint in the buffer at once — fully vectorized.

    Byte k belongs to value `vid[k]`; its weight is 128^(index within the
    value).  Used for the positions channel where a posting row can hold
    hundreds of thousands of varints, and for posting tails (the
    per-value Python loop of :func:`read_vints` is only for exception
    lists).  ValueError when the buffer ends inside a varint.
    """
    b = np.frombuffer(data, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = b < 0x80
    if not ends[-1]:
        raise ValueError("the varints end inside a value")
    starts = np.flatnonzero(np.concatenate(([True], ends[:-1])))
    if len(starts) == len(b):
        return b.astype(np.uint64)
    vid = np.cumsum(ends) - ends
    pos_in = np.arange(len(b), dtype=np.int64) - starts[vid]
    contrib = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * pos_in.astype(np.uint64))
    return np.add.reduceat(contrib, starts)


# --- positions channel ---------------------------------------------------------


def encode_positions(positions: np.ndarray, freqs: np.ndarray) -> bytes:
    """Delta-varint pack the concatenated per-posting position lists.

    ``positions``: all positions of the posting list, concatenated in
    (docid, position) order; ``freqs`` gives each posting's count (== tf).
    Mirrors the .pos file's delta-vint stream (Lucene90PostingsWriter writes
    position deltas per doc, Lucene90PostingsFormat.java:263-300); the blob
    is this engine's own layout.
    """
    p = np.asarray(positions, dtype=np.int64)
    if len(p) == 0:
        return b""
    f = np.asarray(freqs, dtype=np.int64)
    starts = np.cumsum(f) - f
    deltas = np.diff(p, prepend=0)
    deltas[starts] = p[starts]  # first position of each posting stored raw
    return write_vints(deltas.astype(np.uint64))


def decode_positions(pos_blob: bytes, freqs: np.ndarray) -> np.ndarray:
    """→ absolute positions, concatenated per posting (inverse of encode)."""
    f = np.asarray(freqs, dtype=np.int64)
    deltas = read_vints_all(pos_blob).astype(np.int64)
    if len(deltas) == 0:
        return deltas
    csum = np.cumsum(deltas)
    starts = np.cumsum(f) - f
    # groupwise cumsum: subtract the running total just before each posting
    base = np.zeros(len(f), dtype=np.int64)
    base[1:] = csum[starts[1:] - 1]
    return csum - np.repeat(base, f)


# --- FOR-delta (doc ids) ------------------------------------------------------


def encode_for_delta(deltas: np.ndarray) -> bytes:
    """One 128-gap block. All-1s (dense run) → single marker byte 0."""
    d = np.asarray(deltas, dtype=np.uint32)
    assert len(d) == BLOCK_SIZE
    if (d == 1).all():
        return b"\x00"  # ForDeltaUtil.java:54-60 dense marker
    bpv = bits_required(int(d.max()))
    return bytes([bpv]) + pack_bits(d, bpv)


def decode_for_delta(data: bytes, offset: int) -> tuple[np.ndarray, int]:
    """→ (uint32[128] gaps, next offset)."""
    bpv = data[offset]
    if bpv == 0:
        return np.ones(BLOCK_SIZE, dtype=np.uint32), offset + 1
    if bpv > 32:
        raise ValueError(f"doc block bit width {bpv} > 32")
    nbytes = (BLOCK_SIZE * bpv + 7) // 8
    vals = unpack_bits(data[offset + 1 : offset + 1 + nbytes], BLOCK_SIZE, bpv)
    return vals, offset + 1 + nbytes


# --- PFor (freqs) -------------------------------------------------------------

MAX_EXCEPTIONS = 3  # PForUtil.java:40


def encode_pfor(values: np.ndarray) -> bytes:
    """One 128-value block. token = numExceptions<<5 | bpv (PForUtil.java:52)."""
    v = np.asarray(values, dtype=np.uint32)
    assert len(v) == BLOCK_SIZE
    if (v == v[0]).all():
        # all-equal block: token 0, value as varint (PForUtil.java:61-64)
        return b"\x00" + write_vints(np.array([v[0]], dtype=np.uint64))
    # choose bpv so that at most MAX_EXCEPTIONS values exceed (1<<bpv)-1
    srt = np.sort(v)
    candidates = []
    for ne in range(MAX_EXCEPTIONS + 1):
        top = int(srt[BLOCK_SIZE - 1 - ne])
        bpv = bits_required(top)
        candidates.append((bpv * 16 + ne * 2, ne, bpv))
    _, num_exc, bpv = min(candidates)
    token = (num_exc << 5) | bpv
    out = bytearray([token])
    if num_exc == 0:
        out += pack_bits(v, bpv)
        return bytes(out)
    max_low = (1 << bpv) - 1
    exc_idx = np.argsort(v, kind="stable")[BLOCK_SIZE - num_exc :]
    exc_idx = np.sort(exc_idx)
    low = v.copy()
    high = (low[exc_idx] >> bpv).astype(np.uint64)
    low[exc_idx] = low[exc_idx] & max_low
    out += pack_bits(low, bpv)
    out += bytes(exc_idx.astype(np.uint8).tolist())
    out += write_vints(high)
    return bytes(out)


def decode_pfor(data: bytes, offset: int) -> tuple[np.ndarray, int]:
    token = data[offset]
    offset += 1
    num_exc, bpv = token >> 5, token & 0x1F
    if token == 0:
        val, offset = read_vints(data, 1, offset)
        return np.full(BLOCK_SIZE, val[0], dtype=np.uint32), offset
    nbytes = (BLOCK_SIZE * bpv + 7) // 8
    vals = unpack_bits(data[offset : offset + nbytes], BLOCK_SIZE, bpv)
    offset += nbytes
    if num_exc:
        idx = np.frombuffer(data[offset : offset + num_exc], dtype=np.uint8)
        offset += num_exc
        high, offset = read_vints(data, num_exc, offset)
        vals[idx] |= (high.astype(np.uint32)) << bpv
    return vals, offset


# --- posting list <-> blocks ---------------------------------------------------


def encode_postings(docids: np.ndarray, freqs: np.ndarray, dls: np.ndarray | None = None) -> dict:
    """Compress one sorted posting list into block blobs + per-block metadata.

    Returns dict with: doc_blob, freq_blob, dl_blob, tail_blob (bytes);
    block_last_docid (int64[nblocks]) — the skip-pointer analog
    (Lucene90SkipWriter.java:158-218); per-block impact frontier is computed
    separately (see :mod:`impacts`).

    ``dls`` (per-posting doc length) is the inline norms channel: Lucene keeps
    norms in a separate per-segment file read lazily per scored doc
    (Lucene90NormsFormat.java:31-83); a shared-nothing Spark query kernel
    can't do lazy sibling-file reads cheaply, so the quantity is PFor-packed
    next to the freqs (~1 byte/posting) making posting rows self-contained —
    queries shuffle only the rows they match, never a norms table.
    """
    docids = np.asarray(docids, dtype=np.int64)
    freqs = np.asarray(freqs, dtype=np.int64)
    if dls is None:
        dls = np.zeros(len(docids), dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    n = len(docids)
    nblocks = n // BLOCK_SIZE
    doc_blob = bytearray()
    freq_blob = bytearray()
    dl_blob = bytearray()
    block_last = np.empty(nblocks, dtype=np.int64)
    prev = np.int64(-1)
    deltas_all = np.diff(docids, prepend=prev)
    for bi in range(nblocks):
        sl = slice(bi * BLOCK_SIZE, (bi + 1) * BLOCK_SIZE)
        doc_blob += encode_for_delta(deltas_all[sl])
        freq_blob += encode_pfor(freqs[sl])
        dl_blob += encode_pfor(dls[sl])
        block_last[bi] = docids[(bi + 1) * BLOCK_SIZE - 1]
    # tail: interleaved varints (docDelta<<1 | freq==1), freq varint if >1 —
    # built as one vectorized varint write over the interleaved value array
    tstart = nblocks * BLOCK_SIZE
    tdel = deltas_all[tstart:].astype(np.uint64)
    tfr = freqs[tstart:].astype(np.uint64)
    is_one = tfr == 1
    codes = (tdel << np.uint64(1)) | is_one.astype(np.uint64)
    step = 2 - is_one.astype(np.int64)  # 1 slot if freq==1 else 2
    pos = np.cumsum(step) - step
    vals = np.empty(int(step.sum()), dtype=np.uint64)
    vals[pos] = codes
    vals[pos[~is_one] + 1] = tfr[~is_one]
    tail = write_vints(vals) + write_vints(dls[tstart:].astype(np.uint64))
    return {
        "doc_blob": bytes(doc_blob),
        "freq_blob": bytes(freq_blob),
        "dl_blob": bytes(dl_blob),
        "tail_blob": bytes(tail),
        "n_tail": n - tstart,
        "block_last_docid": block_last,
    }


class _RowError(ValueError):
    """A corrupt posting row, by its number in the decoded rows."""

    def __init__(self, row: int, what: str):
        super().__init__(what)
        self.row = row


def _decode_blocks(doc: bytes, freq: bytes, dl: bytes | None, nblocks: int,
                   gaps: np.ndarray, freqs: np.ndarray, dls: np.ndarray, at: int) -> None:
    """Decode one row's ``nblocks`` FOR-delta/PFor blocks into
    ``gaps``/``freqs``/``dls`` from index ``at`` (dls only with ``dl``);
    ValueError when a block runs past its blob."""
    doff = foff = loff = 0
    try:
        for _ in range(nblocks):
            sl = slice(at, at + BLOCK_SIZE)
            gaps[sl], doff = decode_for_delta(doc, doff)
            freqs[sl], foff = decode_pfor(freq, foff)
            if dl is not None:
                dls[sl], loff = decode_pfor(dl, loff)
            at += BLOCK_SIZE
    except IndexError:
        raise ValueError("a block runs past its blob") from None
    # a short last block unpacks zero-padded: its end offset tells
    if doff > len(doc) or foff > len(freq) or (dl is not None and loff > len(dl)):
        raise ValueError("a block runs past its blob")


def _split_tails(vals: np.ndarray, n_tail: np.ndarray, ends: np.ndarray) -> tuple[list, list, list]:
    """The tail parser: one plain-int walk over the concatenated tail
    varints of many rows (row i's end at ``ends[i]``) → (gaps, freqs, dls)
    of every tail posting.  A row's tail is its ``n_tail`` codes
    (docDelta<<1 | freq==1), each followed by its freq when the code's low
    bit is 0, then its ``n_tail`` dls.  ``_RowError`` for the first row
    whose varints do not match its codes, freqs and dls."""
    walk = vals.tolist()
    gaps: list[int] = []
    freqs: list[int] = []
    dls: list[int] = []
    add_gap, add_freq = gaps.append, freqs.append
    j = r = 0
    try:
        for r, (n, end) in enumerate(zip(n_tail.tolist(), ends.tolist())):
            for _ in range(n):
                code = walk[j]
                add_gap(code >> 1)
                if code & 1:
                    add_freq(1)
                    j += 1
                else:
                    add_freq(walk[j + 1])
                    j += 2
            if j + n != end:
                raise IndexError
            dls += walk[j:end]
            j = end
    except IndexError:
        raise _RowError(r, "tail varints do not match its n_tail codes, freqs and dls") from None
    return gaps, freqs, dls


def _row_error(key, e: ValueError) -> ValueError:
    """``e`` for the row named ``key`` (its (term, seg), as Arrow or numpy
    scalars or plain values)."""
    if isinstance(key, tuple):
        key = tuple(k.as_py() if hasattr(k, "as_py") else k.item() if hasattr(k, "item") else k
                    for k in key)
    return ValueError(f"corrupt posting row {key!r}: {e}")


def decode_postings(
    doc_blob: bytes,
    freq_blob: bytes,
    tail_blob: bytes,
    n_tail: int,
    nblocks: int,
    first_prev: int = -1,
    dl_blob: bytes | None = None,
    key=None,
) -> tuple[np.ndarray, np.ndarray] | tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full decompression → (docids, freqs[, dls if dl_blob given]) int64.
    One row of :func:`decode_rows`, with the same block decoders and tail
    walk; ``key`` names the row (its (term, seg)) in the ``ValueError`` a
    corrupt row raises."""
    head = nblocks * BLOCK_SIZE
    n = head + n_tail
    docids = np.empty(n, dtype=np.int64)
    freqs = np.empty(n, dtype=np.int64)
    dls = np.zeros(n, dtype=np.int64)
    try:
        _decode_blocks(doc_blob, freq_blob, dl_blob, nblocks, docids, freqs, dls, 0)
        if n_tail or tail_blob:
            vals = read_vints_all(tail_blob).astype(np.int64)
            docids[head:], freqs[head:], dls[head:] = _split_tails(
                vals, np.array([n_tail]), np.array([len(vals)]))
    except ValueError as e:
        raise _row_error(key, e) from None
    np.cumsum(docids, out=docids)  # prefix-sum: gaps → (docid - first_prev)
    docids += first_prev
    if dl_blob is not None:
        return docids, freqs, dls
    return docids, freqs


def _binary(col) -> tuple[np.ndarray, np.ndarray]:
    """A column of byte strings → (its bytes as one uint8 array, int64
    offsets[n + 1] of each value): zero-copy from an Arrow binary array,
    one join from a sequence of bytes."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if isinstance(col, pa.Array):
        _, offs, data = col.buffers()
        width = np.int64 if pa.types.is_large_binary(col.type) else np.int32
        offsets = np.frombuffer(offs, dtype=width)[col.offset : col.offset + len(col) + 1]
        data = np.empty(0, np.uint8) if data is None else np.frombuffer(data, dtype=np.uint8)
        return data, offsets.astype(np.int64)
    offsets = np.zeros(len(col) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in col], out=offsets[1:])
    return np.frombuffer(b"".join(col), dtype=np.uint8), offsets


def index_ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenate [starts[i], starts[i]+counts[i]) index ranges, vectorized."""
    ids = np.arange(int(counts.sum()), dtype=np.int64)
    return ids + np.repeat(starts - (np.cumsum(counts) - counts), counts)


def decode_rows(rows, out: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None):
    """Decode many posting rows at once → (row_starts int64[n_rows + 1],
    docids, freqs, dls): row i's postings are ``[row_starts[i],
    row_starts[i + 1])`` of the three flat arrays, docids local as from
    :func:`decode_postings`.

    ``rows`` maps a column name to its column (an Arrow table or record
    batch, a pandas frame, a dict of lists): ``doc_blob``, ``freq_blob``,
    ``dl_blob``, ``tail_blob``, ``n_tail`` and ``nblocks``, plus ``term``
    and ``seg`` to name a corrupt row.  Blocks go through the per-block
    FOR/PFor decoders; all tails are read by one vectorized varint read
    over the concatenated tail bytes (zero-copy from Arrow) and split by
    one plain-int walk; one segmented prefix sum turns the gaps into
    docids.  ``out``: three preallocated arrays of the total posting count
    (any integer dtype) to fill instead of new int64 arrays.

    Raises ``ValueError`` naming the row's (term, seg) when its tail's
    varints do not match its ``n_tail`` codes, freqs and dls, or a block
    runs past its blob."""
    nblocks = np.asarray(rows["nblocks"], dtype=np.int64)
    n_tail = np.asarray(rows["n_tail"], dtype=np.int64)
    head = nblocks * BLOCK_SIZE
    counts = head + n_tail
    starts = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    total = int(starts[-1])
    gaps = np.empty(total, dtype=np.int64)
    freqs = np.empty(total, dtype=np.int64)
    dls = np.empty(total, dtype=np.int64)
    r = 0
    try:
        blocked = np.flatnonzero(nblocks).tolist()
        if blocked:
            blobs = [_binary(rows[c]) for c in ENCODED_COLUMNS[:3]]
            for r in blocked:
                doc, freq, dl = (d[o[r] : o[r + 1]].tobytes() for d, o in blobs)
                _decode_blocks(doc, freq, dl, int(nblocks[r]), gaps, freqs, dls, int(starts[r]))
        data, offsets = _binary(rows["tail_blob"])
        tail = data[offsets[0] : offsets[-1]]
        r = int(np.searchsorted(offsets, offsets[-1])) - 1  # the last row with tail bytes
        vals = read_vints_all(tail).astype(np.int64)
        # each row's varints end where its bytes do
        bounds = np.zeros(len(tail) + 1, dtype=np.int64)
        np.cumsum(tail < 0x80, out=bounds[1:])
        at = index_ranges(starts[:-1] + head, n_tail)
        gaps[at], freqs[at], dls[at] = _split_tails(vals, n_tail, bounds[offsets[1:] - offsets[0]])
    except ValueError as e:
        r = getattr(e, "row", r)
        try:
            key = (rows["term"][r], rows["seg"][r])
        except KeyError:
            key = r
        raise _row_error(key, e) from None
    # segmented prefix sum: gaps → docids, each row from docid -1
    csum = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(gaps, out=csum[1:])
    docids = csum[1:]
    docids -= np.repeat(csum[starts[:-1]] + 1, counts)
    if out is None:
        return starts, docids, freqs, dls
    for dst, src in zip(out, (docids, freqs, dls)):
        dst[:] = src
    return (starts, *out)


def decode_block(doc_blob_offsets, freq_blob_offsets, doc_blob, freq_blob, bi, prev_docid):
    """Decode a single 128-block given precomputed byte offsets (random access)."""
    gaps, _ = decode_for_delta(doc_blob, int(doc_blob_offsets[bi]))
    fv, _ = decode_pfor(freq_blob, int(freq_blob_offsets[bi]))
    docids = np.cumsum(gaps.astype(np.int64)) + prev_docid
    return docids, fv.astype(np.int64)


def block_offsets(doc_blob: bytes, freq_blob: bytes, nblocks: int) -> tuple[np.ndarray, np.ndarray]:
    """Byte offset of each block inside the blobs (skip-list analog: arrays
    are O(1) random access, so no multi-level tree is needed)."""
    doffs = np.empty(nblocks, dtype=np.int64)
    foffs = np.empty(nblocks, dtype=np.int64)
    doff = foff = 0
    for bi in range(nblocks):
        doffs[bi] = doff
        foffs[bi] = foff
        bpv = doc_blob[doff]
        doff += 1 if bpv == 0 else 1 + (BLOCK_SIZE * bpv + 7) // 8
        token = freq_blob[foff]
        ne, fbpv = token >> 5, token & 0x1F
        if token == 0:
            pos = foff + 1
            while freq_blob[pos] & 0x80:
                pos += 1
            foff = pos + 1
        else:
            foff += 1 + (BLOCK_SIZE * fbpv + 7) // 8
            if ne:
                pos = foff + ne
                for _ in range(ne):
                    while freq_blob[pos] & 0x80:
                        pos += 1
                    pos += 1
                foff = pos
    return doffs, foffs
