"""``codecs.decode_rows`` — the multi-row posting decoder the resident
snapshot fill and the compaction pass use — against the one-row
``decode_postings``, on random rows that reach every block and tail branch
(all-equal PFor blocks, PFor exceptions, the dense-delta marker, freq 1
and > 1 tails, rows without a tail or without blocks), on every row of
built indexes, and on corrupt rows: a truncated tail or block raises a
``ValueError`` that names the row's (term, seg), and a bit-flipped tail
raises it or decodes without any other error."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_spark.codecs import (BLOCK_SIZE, ENCODED_COLUMNS, decode_postings, decode_rows,
                                 encode_postings)
from lucene_spark.corpus import generate_pages
from lucene_spark.index import build_index


def _row(docids, freqs, dls, term="t", seg=0) -> dict:
    enc = encode_postings(np.asarray(docids), np.asarray(freqs), np.asarray(dls))
    return {"term": term, "seg": seg, "nblocks": len(enc["block_last_docid"]),
            "n_tail": enc["n_tail"], **{c: enc[c] for c in ENCODED_COLUMNS}}


def _one(r: dict):
    return decode_postings(r["doc_blob"], r["freq_blob"], r["tail_blob"], int(r["n_tail"]),
                           int(r["nblocks"]), dl_blob=r["dl_blob"], key=(r["term"], r["seg"]))


def _assert_rows_decode(rows, table) -> None:
    """decode_rows(table) equals decode_postings on each of ``rows``."""
    starts, d, f, dl = decode_rows(table)
    assert len(starts) == len(rows) + 1
    for i, r in enumerate(rows):
        got = [a[starts[i]:starts[i + 1]] for a in (d, f, dl)]
        for g, w in zip(got, _one(r)):
            assert g.dtype == w.dtype == np.int64
            np.testing.assert_array_equal(g, w)


def _random_rows(seed: int, n_rows: int) -> tuple[list[dict], list[tuple]]:
    """→ (encoded rows, the (docids, freqs, dls) each was encoded from)."""
    rng = np.random.default_rng(seed)
    rows, sources = [], []
    for i in range(n_rows):
        n = int(rng.choice([1, 2, 7, BLOCK_SIZE - 1, BLOCK_SIZE, BLOCK_SIZE + 1,
                            2 * BLOCK_SIZE, 3 * BLOCK_SIZE + 50]))
        shape = i % 5
        if shape == 0:  # dense runs: the all-1s delta marker, all-equal PFor blocks
            d = np.arange(n) + int(rng.integers(0, 100))
            f, dl = np.ones(n, np.int64), np.full(n, 9)
        elif shape == 1:  # few exceptions per block
            d = np.sort(rng.choice(1 << 20, n, replace=False))
            f = rng.integers(1, 4, n)
            f[rng.choice(n, min(n, 3), replace=False)] = 1 << 19
            dl = rng.integers(1, 300, n)
        elif shape == 2:  # every tail freq > 1
            d = np.sort(rng.choice(5000, n, replace=False))
            f, dl = rng.integers(2, 1000, n), rng.integers(1, 1 << 16, n)
        else:
            d = np.sort(rng.choice(1 << 16, n, replace=False))
            f, dl = rng.integers(1, 3, n), rng.integers(1, 2000, n)
        rows.append(_row(d, f, dl, term=f"t{i}", seg=i % 4))
        sources.append((d, f, dl))
    return rows, sources


@pytest.mark.parametrize("seed", range(4))
def test_random_rows_equal_decode_postings(seed):
    rows, sources = _random_rows(seed, 60)
    assert {r["n_tail"] == 0 for r in rows} == {True, False}
    assert {r["nblocks"] == 0 for r in rows} == {True, False}
    starts, d, f, dl = decode_rows(pa.Table.from_pylist(rows))
    for i, src in enumerate(sources):  # the encoder's input, back
        for got, want in zip((d, f, dl), src):
            np.testing.assert_array_equal(got[starts[i]:starts[i + 1]], want)
    _assert_rows_decode(rows, pa.Table.from_pylist(rows))
    _assert_rows_decode(rows, pd.DataFrame(rows))
    _assert_rows_decode(rows, {c: [r[c] for r in rows] for c in rows[0]})


def test_sliced_arrow_input_and_int32_out():
    rows, _ = _random_rows(9, 40)
    tab = pa.Table.from_pylist(rows)
    _assert_rows_decode(rows[13:29], tab.slice(13, 16))
    starts = decode_rows(tab)[0]
    out = tuple(np.full(int(starts[-1]), -7, dtype=np.int32) for _ in range(3))
    got = decode_rows(tab, out=out)
    assert all(a is b for a, b in zip(got[1:], out))
    for a, w in zip(out, decode_rows(tab)[1:]):
        np.testing.assert_array_equal(a, w)


def test_no_rows_and_empty_rows():
    empty = {"term": "e", "seg": 0, "nblocks": 0, "n_tail": 0,
             **{c: b"" for c in ENCODED_COLUMNS}}
    starts, d, f, dl = decode_rows(pa.Table.from_pylist([empty, _row([4], [2], [3]), empty]))
    assert starts.tolist() == [0, 0, 1, 1]
    assert (d.tolist(), f.tolist(), dl.tolist()) == ([4], [2], [3])
    assert [len(a) for a in decode_rows(pa.Table.from_pylist([empty]).slice(1))] == [1, 0, 0, 0]


@pytest.fixture(scope="module", params=[False, True], ids=["plain", "positions"])
def built_rows(request, spark):
    pdf = generate_pages(400, seed=11)[["url", "text"]]
    idx = build_index(spark, spark.createDataFrame(pdf), seg_size=150,
                      with_positions=request.param)
    return idx.postings.toArrow()


def test_every_row_of_a_built_index(built_rows):
    rows = built_rows.to_pylist()
    assert any(r["nblocks"] for r in rows)
    _assert_rows_decode(rows, built_rows)
    starts, d, f, _ = decode_rows(built_rows)
    assert np.diff(starts).tolist() == [r["df_local"] for r in rows]
    assert [int(f[a:b].sum()) for a, b in zip(starts[:-1], starts[1:])] == \
        [r["cf_local"] for r in rows]


# --- corrupt rows ----------------------------------------------------------

postings = st.lists(st.integers(0, 1 << 17), min_size=1, max_size=300, unique=True).flatmap(
    lambda ds: st.tuples(st.just(sorted(ds)),
                         st.lists(st.integers(1, 300), min_size=len(ds), max_size=len(ds)),
                         st.lists(st.integers(1, 5000), min_size=len(ds), max_size=len(ds))))


def _raises_naming(fn, key) -> bool:
    """True when ``fn()`` raises a ValueError naming ``key``; False when it
    returns; any other exception fails."""
    try:
        fn()
    except ValueError as e:
        assert repr(key) in str(e), str(e)
        return True
    return False


def _with_neighbours(bad: dict) -> list[dict]:
    return [_row([1, 2, 30], [1, 5, 1], [3, 4, 5], term="a", seg=0), bad,
            _row(range(0, 3 * BLOCK_SIZE, 3), [2] * BLOCK_SIZE, [7] * BLOCK_SIZE,
                 term="z", seg=9)]


@settings(max_examples=150, deadline=None)
@given(postings, st.data())
def test_truncated_tail_or_block_raises_naming_the_row(p, data):
    bad = _row(*p, term="mid", seg=3)
    cols = [c for c in ENCODED_COLUMNS if bad[c]]
    col = data.draw(st.sampled_from(cols))
    cut = data.draw(st.integers(1, len(bad[col])))
    bad[col] = bad[col][:-cut]
    key = ("mid", 3)
    assert _raises_naming(lambda: _one(bad), key)
    assert _raises_naming(lambda: decode_rows(pa.Table.from_pylist(_with_neighbours(bad))), key)


@settings(max_examples=200, deadline=None)
@given(postings, st.data())
def test_bit_flipped_tail_raises_naming_the_row_or_decodes(p, data):
    bad = _row(*p, term="mid", seg=3)
    if not bad["tail_blob"]:
        return
    tail = bytearray(bad["tail_blob"])
    at = data.draw(st.integers(0, len(tail) - 1))
    tail[at] ^= 1 << data.draw(st.integers(0, 7))
    bad["tail_blob"] = bytes(tail)
    rows = _with_neighbours(bad)
    one_failed = _raises_naming(lambda: _one(bad), ("mid", 3))
    many_failed = _raises_naming(lambda: decode_rows(pa.Table.from_pylist(rows)), ("mid", 3))
    assert one_failed == many_failed
    if not many_failed:  # the neighbours still decode right, the row to its count
        _assert_rows_decode(rows, pa.Table.from_pylist(rows))
        assert len(_one(bad)[0]) == len(p[0])
