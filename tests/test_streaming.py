"""Incremental index maintenance (NRT analog): batch appends produce an index
whose search results equal a one-shot oracle over the union of batches; the
compaction merge preserves results with remapped-dense docIDs."""

import numpy as np
import pytest

from lucene_spark.corpus import generate_pages
from lucene_spark.index import read_index
from lucene_spark.oracle import OracleIndex
from lucene_spark.search import search
from lucene_spark.streaming import append_batch, compact_index, refresh_reader


@pytest.fixture(scope="module")
def batches():
    pages = generate_pages(600, seed=7, n_stems=200)
    return [pages.iloc[:200], pages.iloc[200:400], pages.iloc[400:]]


def test_incremental_appends_then_search(tmp_path, spark, batches):
    out = str(tmp_path / "nrt")
    seg_size = 128
    for b in batches:
        n = append_batch(spark, spark.createDataFrame(b), out, seg_size)
        assert n == len(b)
    idx = refresh_reader(spark, out)
    assert idx.doc_count == 600

    # oracle over the arrival-ordered union: batch order, url-sorted within
    all_urls, all_texts = [], []
    for b in batches:
        bs = b.sort_values("url")
        all_urls.extend(bs["url"].tolist())
        all_texts.extend(bs["text"].tolist())
    oracle = OracleIndex.__new__(OracleIndex)
    oracle.urls = all_urls
    from lucene_spark.analysis import analyze

    token_lists = [analyze(t) for t in all_texts]
    oracle.dl = np.array([len(t) for t in token_lists], dtype=np.int64)
    oracle.doc_count = len(all_urls)
    oracle.sum_ttf = int(oracle.dl.sum())
    oracle.postings = {}
    accum = {}
    for docid, toks in enumerate(token_lists):
        for t in toks:
            accum.setdefault(t, {}).setdefault(docid, 0)
            accum[t][docid] += 1
    for t, dmap in accum.items():
        d = np.array(sorted(dmap), dtype=np.int64)
        f = np.array([dmap[i] for i in d], dtype=np.int64)
        oracle.postings[t] = (d, f, oracle.dl[d])

    for q in ["court", "court law", "court AND law"]:
        got = search(idx, q, k=10)
        want = oracle.search(q, k=10)
        # docids differ (batch-local gaps) but scores + arrival ranks match:
        # map engine docid -> arrival position via url
        np.testing.assert_array_equal(got.scores, want["score"].to_numpy(), err_msg=q)
        got_urls = search(idx, q, k=10, with_urls=True).urls
        assert got_urls == want["url"].tolist(), q


def test_compaction_preserves_results(tmp_path, spark, batches):
    out = str(tmp_path / "nrt2")
    for b in batches:
        append_batch(spark, spark.createDataFrame(b), out, 128)
    idx = refresh_reader(spark, out)
    before = search(idx, "court law", k=10, with_urls=True)

    merged = compact_index(spark, out, str(tmp_path / "merged"), seg_size=512)
    after = search(merged, "court law", k=10, with_urls=True)
    np.testing.assert_array_equal(before.scores, after.scores)
    assert before.urls == after.urls
    # merged docids are dense 0..N-1
    assert merged.docs.agg({"docid": "max"}).collect()[0][0] == merged.doc_count - 1


def test_append_after_compaction_keeps_compacted_docs(tmp_path, spark, batches):
    """compact_index writes seg-partitioned tables like every other writer,
    so a later append_batch adds its segments beside the compacted ones
    instead of hiding them behind the new partition directories."""
    out, merged_dir = str(tmp_path / "nrt3"), str(tmp_path / "merged3")
    for b in batches[:2]:
        append_batch(spark, spark.createDataFrame(b), out, 128)
    merged = compact_index(spark, out, merged_dir, seg_size=128)
    want = search(merged, "court", k=5)
    assert len(want.docids)

    append_batch(spark, spark.createDataFrame(batches[2]), merged_dir, 128)
    idx = read_index(spark, merged_dir)
    assert idx.doc_count == 600
    # 400 compacted docs in segs 0-3, 200 appended from the next seg base
    assert sorted(r["seg"] for r in idx.norms.select("seg").collect()) == [0, 1, 2, 3, 4, 5]
    assert idx.docs.filter("docid < 400").count() == 400
    hits = search(idx, "court", k=600).docids
    assert set(want.docids.tolist()) <= set(hits.tolist())


def test_positions_survive_append_and_compaction(tmp_path, spark):
    """Phrase queries work on streamed segments and after the merge."""
    rows1 = [("a1", "alpha beta gamma"), ("a2", "beta gamma beta")]
    rows2 = [("b1", "alpha beta delta"), ("b2", "gamma alpha")]
    out = str(tmp_path / "nrt_pos")
    for rows in (rows1, rows2):
        append_batch(
            spark, spark.createDataFrame(rows, "url string, text string"),
            out, seg_size=2, with_positions=True,
        )
    idx = refresh_reader(spark, out)
    got = search(idx, '"alpha beta"', k=10, precision="float64", with_urls=True)
    assert set(got.urls) == {"a1", "b1"}

    merged = compact_index(spark, out, str(tmp_path / "nrt_pos_m"), seg_size=3)
    got2 = search(merged, '"alpha beta"', k=10, precision="float64", with_urls=True)
    assert set(got2.urls) == {"a1", "b1"}
    np.testing.assert_array_equal(np.sort(got.scores), np.sort(got2.scores))


def test_available_now_stream(tmp_path, spark, batches):
    src = str(tmp_path / "src")
    out = str(tmp_path / "stream_idx")
    spark.createDataFrame(batches[0]).write.parquet(src)
    from lucene_spark.streaming import start_indexing_stream

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = start_indexing_stream(stream, out, seg_size=128, trigger_once=True)
    q.awaitTermination(120)
    idx = refresh_reader(spark, out)
    assert idx.doc_count == len(batches[0])
    assert len(search(idx, "court", k=5).docids) > 0


def test_update_batch_replaces_by_key(spark, tmp_path):
    """IndexWriter.updateDocument analog: delete-by-key + append atomically;
    old versions are masked at read and purged at compaction, and a batch-
    written index accepts streaming updates (shared seg-partitioned
    layout)."""
    from lucene_spark.index import build_index, read_index, write_index
    from lucene_spark.search import search
    from lucene_spark.streaming import compact_index, update_batch

    pages = spark.createDataFrame(
        [(f"u{i}", f"original stale w{i}") for i in range(12)],
        "url string, text string",
    )
    out = str(tmp_path / "idx")
    write_index(build_index(spark, pages, seg_size=4), out)
    batch = spark.createDataFrame(
        [("u3", "replaced fresh"), ("u7", "replaced fresh too"),
         ("u99", "replaced new doc")],
        "url string, text string",
    )
    assert update_batch(spark, batch, out, seg_size=4) == 3
    r = read_index(spark, out)
    stale = search(r, "stale", k=50, with_urls=True)
    assert len(stale.docids) == 10
    assert "u3" not in stale.urls and "u7" not in stale.urls
    fresh = search(r, "replaced", k=50, with_urls=True)
    assert sorted(fresh.urls) == ["u3", "u7", "u99"]
    compacted = compact_index(spark, out, str(tmp_path / "idx2"), seg_size=4)
    assert compacted.doc_count == 13
    assert len(search(compacted, "stale", k=50).docids) == 10
