"""Codec roundtrip property tests, mirroring core/src/test/.../codecs/lucene90/
TestForUtil.java:35-88 + TestPForUtil + TestForDeltaUtil (random blocks at
every bit width, exception paths, all-equal, dense, tails)."""

import numpy as np
import pytest

from lucene_spark.codecs import (
    BLOCK_SIZE,
    block_offsets,
    decode_block,
    decode_for_delta,
    decode_pfor,
    decode_postings,
    encode_for_delta,
    encode_pfor,
    encode_postings,
    pack_bits,
    read_vints,
    unpack_bits,
    write_vints,
)

rng = np.random.default_rng(7)


@pytest.mark.parametrize("bpv", range(1, 32))
def test_pack_roundtrip_every_bpv(bpv):
    vals = rng.integers(0, 2**bpv, BLOCK_SIZE, dtype=np.uint64).astype(np.uint32)
    vals[rng.integers(0, BLOCK_SIZE)] = (1 << bpv) - 1  # force max width
    data = pack_bits(vals, bpv)
    assert len(data) == (BLOCK_SIZE * bpv + 7) // 8
    out = unpack_bits(data, BLOCK_SIZE, bpv)
    np.testing.assert_array_equal(out, vals)


def test_vints():
    vals = np.array([0, 1, 127, 128, 300, 2**20, 2**40], dtype=np.uint64)
    data = write_vints(vals)
    out, pos = read_vints(data, len(vals))
    np.testing.assert_array_equal(out, vals)
    assert pos == len(data)


def test_for_delta_dense_marker():
    deltas = np.ones(BLOCK_SIZE, dtype=np.uint32)
    data = encode_for_delta(deltas)
    assert data == b"\x00"  # single marker byte (ForDeltaUtil.java:54-60 analog)
    out, off = decode_for_delta(data, 0)
    np.testing.assert_array_equal(out, deltas)
    assert off == 1


def test_for_delta_random():
    deltas = rng.integers(1, 5000, BLOCK_SIZE).astype(np.uint32)
    data = encode_for_delta(deltas)
    out, _ = decode_for_delta(data, 0)
    np.testing.assert_array_equal(out, deltas)


def test_pfor_all_equal():
    vals = np.full(BLOCK_SIZE, 7, dtype=np.uint32)
    data = encode_pfor(vals)
    assert len(data) == 2  # token + 1-byte varint
    out, _ = decode_pfor(data, 0)
    np.testing.assert_array_equal(out, vals)


@pytest.mark.parametrize("n_outliers", [1, 2, 3])
def test_pfor_exception_path(n_outliers):
    vals = rng.integers(1, 8, BLOCK_SIZE).astype(np.uint32)
    idx = rng.choice(BLOCK_SIZE, n_outliers, replace=False)
    vals[idx] = rng.integers(2**16, 2**20, n_outliers).astype(np.uint32)
    data = encode_pfor(vals)
    token = data[0]
    assert token >> 5 == n_outliers  # exceptions stored, not widened bpv
    assert token & 0x1F <= 4
    out, _ = decode_pfor(data, 0)
    np.testing.assert_array_equal(out, vals)


def test_pfor_random_many():
    for _ in range(25):
        vals = rng.integers(1, 2 ** int(rng.integers(1, 20)), BLOCK_SIZE).astype(np.uint32)
        out, _ = decode_pfor(encode_pfor(vals), 0)
        np.testing.assert_array_equal(out, vals)


@pytest.mark.parametrize("n", [1, 5, 127, 128, 129, 300, 1000, 1024 + 17])
def test_postings_roundtrip(n):
    docids = np.sort(rng.choice(10 * n, n, replace=False)).astype(np.int64)
    freqs = rng.integers(1, 100, n).astype(np.int64)
    freqs[rng.integers(0, n)] = 1
    enc = encode_postings(docids, freqs)
    d, f = decode_postings(
        enc["doc_blob"], enc["freq_blob"], enc["tail_blob"], enc["n_tail"], n // BLOCK_SIZE
    )
    np.testing.assert_array_equal(d, docids)
    np.testing.assert_array_equal(f, freqs)
    nblocks = n // BLOCK_SIZE
    assert len(enc["block_last_docid"]) == nblocks
    if nblocks:
        assert enc["block_last_docid"][0] == docids[BLOCK_SIZE - 1]


def test_block_random_access():
    n = 5 * BLOCK_SIZE + 17
    docids = np.sort(rng.choice(20 * n, n, replace=False)).astype(np.int64)
    freqs = rng.integers(1, 50, n).astype(np.int64)
    enc = encode_postings(docids, freqs)
    doffs, foffs = block_offsets(enc["doc_blob"], enc["freq_blob"], 5)
    for bi in range(5):
        prev = -1 if bi == 0 else int(enc["block_last_docid"][bi - 1])
        d, f = decode_block(doffs, foffs, enc["doc_blob"], enc["freq_blob"], bi, prev)
        sl = slice(bi * BLOCK_SIZE, (bi + 1) * BLOCK_SIZE)
        np.testing.assert_array_equal(d, docids[sl])
        np.testing.assert_array_equal(f, freqs[sl])


def test_dense_posting_list_compresses_to_markers():
    # docids 0..n-1 (term in every doc): doc blob should be ~1 byte/block
    n = 4 * BLOCK_SIZE
    enc = encode_postings(np.arange(n, dtype=np.int64), np.ones(n, dtype=np.int64))
    assert len(enc["doc_blob"]) == 4  # 4 dense markers
    assert len(enc["freq_blob"]) == 8  # 4 × (token + varint) all-equal freq blocks


def test_vectorized_tail_encode_byte_identical(spark):
    """The batched tail-group fast path in _merge_partials must produce
    byte-identical posting rows to the scalar encode_postings path."""
    import numpy as np

    from lucene_spark.codecs import BLOCK_SIZE, encode_postings
    from lucene_spark.corpus import generate_pages
    from lucene_spark.impacts import block_frontiers
    from lucene_spark.index import build_index
    from lucene_spark.kernel import TermPostings

    pdf = generate_pages(3000, seed=9)
    pdf["docid"] = np.arange(len(pdf))
    pages = spark.createDataFrame(pdf).repartition(8)
    # rank-assigned docids, and caller docids that the round-robin
    # partitions interleave (each (term, seg) gets overlapping chunks)
    rows = (build_index(spark, pages, seg_size=300).postings.collect()
            + build_index(spark, pages, seg_size=300, docid_col="docid").postings.collect())
    for r in rows:
        rd = r.asDict()
        d, f, dl = TermPostings(rd, 300).decode()
        assert np.all(np.diff(d) > 0), rd["term"]
        enc = encode_postings(d, f, dl)
        imp_f, imp_dl, imp_off = block_frontiers(d, f, dl, BLOCK_SIZE)
        assert bytes(rd["tail_blob"]) == enc["tail_blob"], rd["term"]
        assert bytes(rd["doc_blob"]) == enc["doc_blob"]
        assert bytes(rd["freq_blob"]) == enc["freq_blob"]
        assert bytes(rd["dl_blob"]) == enc["dl_blob"]
        assert rd["n_tail"] == enc["n_tail"]
        assert list(rd["imp_freqs"]) == imp_f.tolist()
        assert list(rd["imp_dls"]) == imp_dl.tolist()
        assert list(rd["imp_offsets"]) == imp_off.tolist()
        assert rd["df_local"] == len(d) and rd["cf_local"] == int(f.sum())


def _apple_banana(spark, docid_order):
    """60 one-segment docs, 30 per partition in ``docid_order``; docs
    0..39 hold ``apple``, every third of them ``banana`` too."""
    rows = [(f"u{d:02d}", "apple " * (d < 40) + ("banana" if d % 3 == 0 else "cherry"), d)
            for d in docid_order]
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
                                 "url string, text string, docid long")


def test_interleaved_caller_docids_merge_sorted(spark):
    """Caller docids whose partitions interleave (evens in one, odds in the
    other) give one (term, seg) two chunks with overlapping docid ranges:
    the merge must sort their postings, not concatenate the chunks, or
    ``apple`` decodes unsorted and the kernel's searchsorted intersects
    wrongly."""
    from lucene_spark.index import build_index
    from lucene_spark.kernel import TermPostings
    from lucene_spark.search import search

    contiguous = build_index(spark, _apple_banana(spark, range(60)), docid_col="docid")
    interleaved = build_index(spark, _apple_banana(spark, [*range(0, 60, 2), *range(1, 60, 2)]),
                              docid_col="docid")
    row = interleaved.postings.filter("term = 'apple'").collect()[0]
    d, _, _ = TermPostings(row.asDict(), interleaved.seg_size).decode()
    assert d.tolist() == list(range(40))
    a = search(interleaved, "apple AND banana", k=10)
    b = search(contiguous, "apple AND banana", k=10)
    assert a.docids.tolist() == b.docids.tolist()
    assert a.scores.tobytes() == b.scores.tobytes()


def test_vectorized_positions_encode_byte_identical(spark):
    from lucene_spark.codecs import encode_positions, encode_postings
    from lucene_spark.corpus import generate_pages
    from lucene_spark.index import build_index
    from lucene_spark.kernel import TermPostings

    pages = spark.createDataFrame(generate_pages(2000, seed=13)).repartition(8)
    idx = build_index(spark, pages, seg_size=250, with_positions=True)
    for r in idx.postings.collect():
        rd = r.asDict()
        tp = TermPostings(rd, 250)
        d, f, dl = tp.decode()
        assert bytes(rd["pos_blob"]) == encode_positions(tp.positions_flat(), f)
        assert bytes(rd["tail_blob"]) == encode_postings(d, f, dl)["tail_blob"]
