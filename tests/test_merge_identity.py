"""A merge writes what a fresh build of its surviving documents writes.

``compact_index`` over a tombstoned index (broadcast-runs and join remap
paths, with and without positions) and ``tiered_compact`` over appended
mini-segments must produce postings, docs, norms and termdict equal, row
for row, to ``build_index`` over the surviving pages at the same seg_size:
merges re-encode through the build's ``merge_partials_stage``, and the
dense docid remap keeps url order, which is the build's docid order."""

import numpy as np
import pytest

import lucene_spark.streaming as streaming
from lucene_spark.corpus import generate_pages
from lucene_spark.index import build_index, read_index, write_index

TABLES = {"postings": ["term", "seg"], "docs": ["docid"], "norms": ["seg"],
          "termdict": ["term"]}


def _pages(n, seed):
    pdf = generate_pages(n, seed=seed)[["url", "text"]]
    pdf["url"] = [f"https://mi{seed}.example/{i:05d}" for i in range(n)]
    return pdf


def _rows(df, keys):
    cols = sorted(c for c in df.columns if c != "seg" or "seg" in keys)
    return [tuple(r) for r in df.select(*cols).orderBy(*keys).collect()]


def _assert_same_index(got, want):
    for name, keys in TABLES.items():
        a, b = getattr(got, name), getattr(want, name)
        if name == "docs":
            a, b = a.select("docid", "url", "dl", "norm"), b.select("docid", "url", "dl", "norm")
        assert _rows(a, keys) == _rows(b, keys), name
    assert ((got.doc_count, got.sum_total_term_freq, got.seg_size)
            == (want.doc_count, want.sum_total_term_freq, want.seg_size))


@pytest.fixture(scope="module")
def corpus():
    pdf = _pages(420, seed=21)
    dead = np.zeros(len(pdf), dtype=bool)
    dead[::7] = True
    dead[200:230] = True  # a run of deletes spanning a segment boundary
    return pdf, dead


@pytest.mark.parametrize("with_positions", [False, True])
@pytest.mark.parametrize("remap", ["runs", "join"])
def test_compact_equals_build_of_survivors(spark, tmp_path, monkeypatch, corpus,
                                           with_positions, remap):
    pdf, dead = corpus
    src = build_index(spark, spark.createDataFrame(pdf), seg_size=64,
                      with_positions=with_positions)
    gone = spark.createDataFrame([(int(d),) for d in np.flatnonzero(dead)], "docid long")
    write_index(src.delete_docs(gone), str(tmp_path / "src"))
    if remap == "join":
        monkeypatch.setattr(streaming, "MAX_BROADCAST_REMAP_RUNS", 0)
    got = streaming.compact_index(spark, str(tmp_path / "src"), str(tmp_path / "out"),
                                  seg_size=256)
    want = build_index(spark, spark.createDataFrame(pdf[~dead]), seg_size=256,
                       with_positions=with_positions)
    assert got.postings.filter("nblocks > 0").count() > 0  # block-encoded rows too
    _assert_same_index(got, want)


def test_tiered_compact_equals_build_of_survivors(spark, tmp_path):
    out = str(tmp_path / "nrt")
    pdf = _pages(160, seed=22)
    for b in range(4):  # four mini-segments of 40 docs (< seg_size * min_fill)
        streaming.append_batch(spark, spark.createDataFrame(pdf[40 * b: 40 * (b + 1)]),
                               out, seg_size=128, with_positions=True)
    dead = np.arange(len(pdf)) % 5 == 2
    old_ids = [(i // 40) * 128 + i % 40 for i in np.flatnonzero(dead)]
    read_index(spark, out).delete_docs(
        spark.createDataFrame([(int(d),) for d in old_ids], "docid long")
    ).write_tombstones(out)
    report = streaming.tiered_compact(spark, out)
    assert report["merged"] == [0, 1, 2, 3] and report["purged"] == len(old_ids)
    want = build_index(spark, spark.createDataFrame(pdf[~dead]), seg_size=128,
                       with_positions=True)
    _assert_same_index(read_index(spark, out), want)
