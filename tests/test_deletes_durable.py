"""Durable deletes: tombstones round-trip through write/read, are honored by
every query path (search, search_many, count_hits, score_docs), and are
physically purged by compact_index with stats rebuilt over survivors — the
Lucene90LiveDocsFormat (.liv persistence) + SegmentMerger drop-at-merge
contract (reference: codecs/lucene90/Lucene90LiveDocsFormat.java,
index/SegmentMerger.java:103-136)."""

import os

import numpy as np
import pytest

from lucene_spark.corpus import generate_pages
from lucene_spark.index import build_index, read_index, split_index, write_index
from lucene_spark.search import count_hits, match_any_docs, score_docs, search, search_many
from lucene_spark.streaming import append_batch, compact_index, refresh_reader


@pytest.fixture(scope="module")
def corpus(spark):
    pages = generate_pages(400, seed=11, n_stems=150)
    return spark.createDataFrame(pages)


@pytest.fixture(scope="module")
def idx(spark, corpus):
    return build_index(spark, corpus, seg_size=64)


def _dead_df(spark, idx, term):
    """Every doc containing ``term`` becomes a tombstone."""
    return match_any_docs(idx, [term])


def test_tombstones_roundtrip_write_read(tmp_path, spark, idx):
    dead = _dead_df(spark, idx, "court")
    deleted = idx.delete_docs(dead)
    out = str(tmp_path / "liv")
    write_index(deleted, out)
    reread = read_index(spark, out)
    assert reread.tombstones is not None
    dead_ids = {r["docid"] for r in dead.collect()}
    # search never returns a tombstoned doc after the round-trip
    got = search(reread, "court law", k=50)
    assert not (set(got.docids.tolist()) & dead_ids)
    # and matches a pre-write search on the in-memory handle
    want = search(deleted, "court law", k=50)
    np.testing.assert_array_equal(got.docids, want.docids)
    np.testing.assert_array_equal(got.scores, want.scores)


def test_search_many_masks_tombstones(spark, idx):
    dead = _dead_df(spark, idx, "court")
    dead_ids = {r["docid"] for r in dead.collect()}
    deleted = idx.delete_docs(dead)
    res = search_many(deleted, {"q1": "court law", "q2": "law"}, k=30)
    for qid, td in res.items():
        assert not (set(td.docids.tolist()) & dead_ids), qid
    # rank-identical to the single-query path under the same tombstones
    single = search(deleted, "law", k=30)
    np.testing.assert_array_equal(res["q2"].docids, single.docids)


def test_count_and_score_docs_mask_tombstones(spark, idx):
    dead = _dead_df(spark, idx, "court")
    n_dead_matching = dead.join(
        match_any_docs(idx, ["law"]), "docid"
    ).count()
    deleted = idx.delete_docs(dead)
    total = count_hits(idx, "law")
    assert count_hits(deleted, "law") == total - n_dead_matching
    sd = score_docs(deleted, "law")
    assert sd.count() == total - n_dead_matching
    dead_ids = {r["docid"] for r in dead.collect()}
    assert not ({r["docid"] for r in sd.collect()} & dead_ids)


def test_count_hits_matches_exhaustive(spark, idx):
    for q in ["court", "court law", "court AND law", "law NOT court"]:
        td = search(idx, q, k=10**6, prune=False)
        assert count_hits(idx, q) == len(td.docids), q


def test_compaction_purges_deletes_and_rebuilds_stats(tmp_path, spark, corpus, idx):
    dead = _dead_df(spark, idx, "court")
    n_dead = dead.count()
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    write_index(idx.delete_docs(dead), out_a)
    compacted = compact_index(spark, out_a, out_b, seg_size=64)
    assert compacted.tombstones is None
    assert compacted.doc_count == idx.doc_count - n_dead
    # reference semantics: post-merge the index is indistinguishable from one
    # built over the survivors alone (stats, df, scores)
    survivors = corpus.join(
        idx.docs.join(dead, "docid").select("url"), "url", "left_anti"
    )
    fresh = build_index(spark, survivors, seg_size=64)
    assert compacted.sum_total_term_freq == fresh.sum_total_term_freq
    got = search(compacted, "law judge", k=20, with_urls=True)
    want = search(fresh, "law judge", k=20, with_urls=True)
    np.testing.assert_array_equal(got.scores, want.scores)
    assert got.urls == want.urls


def _listing(d):
    return sorted((os.path.relpath(r, d), sorted(fs)) for r, _, fs in os.walk(d))


@pytest.fixture
def written(tmp_path, spark, idx):
    """A persisted index with tombstones, and its file listing."""
    d = str(tmp_path / "idx")
    write_index(idx.delete_docs(_dead_df(spark, idx, "court")), d)
    return d, _listing(d)


@pytest.mark.parametrize("alias", ["same", "dotdot", "symlink"])
def test_compaction_in_place_is_rejected(tmp_path, spark, written, alias):
    """Compacting into the input directory would overwrite tables the
    rewrite still reads; it is refused before anything is read or written."""
    d, before = written
    out = {"same": d, "dotdot": os.path.join(d, "..", "idx")}.get(alias)
    if out is None:
        out = str(tmp_path / "link")
        os.symlink(d, out)
    with pytest.raises(ValueError, match="in_dir"):
        compact_index(spark, d, out, seg_size=64)
    assert _listing(d) == before
    assert read_index(spark, d).tombstones.count() > 0


@pytest.mark.parametrize("shape", ["reread", "split"])
def test_write_index_into_its_source_is_rejected(spark, written, shape):
    """write_index of a handle read from the target directory would delete
    the postings it still reads; it is refused before writing."""
    d, before = written
    src = read_index(spark, d)
    if shape == "split":
        src = split_index(src, at_seg=2)[0]
    src.postings = src.postings.persist()  # a cached frame still names its files
    with pytest.raises(ValueError, match="read from"):
        write_index(src, d)
    src.postings.unpersist()
    assert _listing(d) == before
    assert len(search(read_index(spark, d), "law", k=5).docids) == 5


def test_compaction_mixed_positions_downgrades(tmp_path, spark):
    # base WITH positions + appended batch WITHOUT → merged index drops the
    # positions channel (FieldInfos merge takes the minimum IndexOptions)
    pages = generate_pages(120, seed=3, n_stems=60)
    out = str(tmp_path / "mix")
    a = spark.createDataFrame(pages.iloc[:60])
    b = spark.createDataFrame(pages.iloc[60:])
    append_batch(spark, a, out, seg_size=32, with_positions=True)
    append_batch(spark, b, out, seg_size=32, with_positions=False)
    merged = compact_index(spark, out, str(tmp_path / "mix_out"), seg_size=32)
    idx = refresh_reader(spark, str(tmp_path / "mix_out"))
    assert idx.doc_count == 120
    td = search(merged, "court", k=5)
    assert len(td.docids) > 0
    # phrase queries must now raise the positions-required error
    with pytest.raises(Exception, match="positions"):
        search(merged, '"court law"', k=5)


def test_tiered_merge_bounds_segments(tmp_path, spark):
    # 20 micro-batch appends -> 20 mini-segments; repeated tiered merges
    # bound the count while search results stay identical
    from lucene_spark.streaming import select_tiered_merge, tiered_compact

    pages = generate_pages(400, seed=21, n_stems=150)
    out = str(tmp_path / "nrt20")
    seg_size = 256
    for i in range(20):
        append_batch(spark, spark.createDataFrame(pages.iloc[i * 20:(i + 1) * 20]),
                     out, seg_size)
    idx = refresh_reader(spark, out)
    n_segs_before = idx.norms.count()
    assert n_segs_before == 20
    before = search(idx, "court law", k=15, with_urls=True)

    reports = []
    while True:
        r = tiered_compact(spark, out, merge_factor=10)
        if not r["merged"]:
            break
        reports.append(r)
    merged_idx = refresh_reader(spark, out)
    n_segs_after = merged_idx.norms.count()
    assert n_segs_after < n_segs_before
    # 400 docs at 256/seg pack into 2 full segments (+ leftovers < factor)
    assert n_segs_after <= 4
    after = search(merged_idx, "court law", k=15, with_urls=True)
    np.testing.assert_array_equal(before.scores, after.scores)
    assert before.urls == after.urls
    # full segments are never re-merged
    sizes = {r["seg"]: r["n_docs"] for r in merged_idx.norms.select("seg", "n_docs").collect()}
    assert select_tiered_merge(sizes, seg_size) == [] or all(
        sizes[s] < seg_size * 0.5 for s in select_tiered_merge(sizes, seg_size)
    )


def test_tiered_merge_purges_tombstones(tmp_path, spark):
    from lucene_spark.index import read_index, write_index
    from lucene_spark.streaming import tiered_compact

    pages = generate_pages(200, seed=23, n_stems=100)
    out = str(tmp_path / "nrt_del")
    seg_size = 128
    for i in range(4):
        append_batch(spark, spark.createDataFrame(pages.iloc[i * 50:(i + 1) * 50]),
                     out, seg_size)
    idx = refresh_reader(spark, out)
    dead = match_any_docs(idx, ["court"])
    n_dead = dead.count()
    # materialize before the merge deletes the old segment files
    dead_urls = {
        r["url"] for r in idx.docs.join(dead, "docid").select("url").collect()
    }
    idx.delete_docs(dead).write_tombstones(out)  # delete-only commit (.liv)
    idx2 = read_index(spark, out)
    assert idx2.tombstones is not None
    r = tiered_compact(spark, out, merge_factor=10)
    assert r["merged"] and r["purged"] == n_dead
    merged = read_index(spark, out)
    assert merged.doc_count == 200 - n_dead
    assert merged.tombstones is None or merged.tombstones.count() == 0
    got = search(merged, "law judge", k=15, with_urls=True)
    assert not (set(got.urls) & dead_urls)


def test_topk_merge_partition_invariance(spark, corpus):
    # the hierarchical Spark-side top-k reduce must not depend on the
    # physical partitioning of the per-segment rows
    i1 = build_index(spark, corpus, seg_size=32)
    i2 = build_index(spark, corpus.repartition(13), seg_size=256)
    a = search(i1, "court law", k=15)
    b = search(i2, "court law", k=15)
    np.testing.assert_array_equal(a.scores, b.scores)
    # urls identical even though seg sizes differ
    au = search(i1, "court law", k=15, with_urls=True).urls
    bu = search(i2, "court law", k=15, with_urls=True).urls
    assert au == bu
