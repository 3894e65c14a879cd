"""Driver-side scoring of small queries (``LOCAL_SCORE_MAX_POSTINGS``).

A query whose scanned terms hold at most that many postings is scored on the
driver by the same per-segment closure the distributed
``groupBy("seg").applyInPandas`` path runs.  Its posting rows come from the
index's reader-resident postings snapshot when the whole index holds at most
that many postings (no Spark job once loaded), else from one collect; its
tombstones come from the reader-resident live docs.  Every path must return
identical docids and bit-identical float64 scores; the distributed path is
forced by setting the bound to 0, the collecting driver path by setting it
between the query's and the index's Σ df.  Queries with ``filter_docs``, and
indexes with more tombstones than the bound, take the distributed path."""

import importlib
import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_spark.corpus import generate_pages
from lucene_spark.index import build_index, read_index, write_index
from lucene_spark.pulsing import pulse_index
from lucene_spark.search import search, search_many
from lucene_spark.streaming import append_batch, refresh_reader

S = importlib.import_module("lucene_spark.search")  # the package exports search()
_GROUPS = itertools.count()


def _counted(spark, fn):
    """(fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"local_scoring_{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _both_paths(spark, monkeypatch, fn):
    """→ ((local result, jobs), (distributed result, jobs))."""
    local = _counted(spark, fn)
    with monkeypatch.context() as m:
        m.setattr(S, "LOCAL_SCORE_MAX_POSTINGS", 0)
        dist = _counted(spark, fn)
    return local, dist


def _assert_same(a, b):
    assert a.docids.dtype == b.docids.dtype == np.int64
    assert a.scores.dtype == b.scores.dtype == np.float64
    assert a.docids.tolist() == b.docids.tolist()
    assert a.scores.tobytes() == b.scores.tobytes()


def _pages(spark, n, seed):
    pdf = generate_pages(n, seed=seed)[["url", "text"]]
    pdf["url"] = [f"https://ls{seed}.example/{i}" for i in range(n)]
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def idx(spark):
    index = build_index(spark, _pages(spark, 600, seed=3), seg_size=100)
    index.postings = index.postings.persist()
    index.termdict = index.termdict.persist()
    index.postings.count()
    search(index, "court", k=5)  # warm: loads the term-stats and postings snapshots
    assert index.resident_postings(S.LOCAL_SCORE_MAX_POSTINGS) is not None
    return index


@pytest.fixture(scope="module")
def pulsed(idx):
    p = pulse_index(idx)
    p.pulsed = p.pulsed.persist()
    p.pulsed.count()
    p.resident_postings(S.LOCAL_SCORE_MAX_POSTINGS)  # handed on by pulse_index: no job
    return p


@pytest.fixture(scope="module")
def by_df(idx):
    """Indexed terms, most frequent first (ties in term order)."""
    ts = idx.term_stats()
    return ts.terms[np.argsort(-ts.df, kind="stable")].tolist()


@pytest.fixture(scope="module")
def singles(idx):
    """df == 1 terms of the generated vocabulary (``w00410``, ...)."""
    ts = idx.term_stats()
    return [t for t in ts.terms[ts.df == 1].tolist() if t.startswith("w")]


def _queries(t):
    return {
        "single": t[0],
        "or": f"{t[0]} OR {t[5]} OR {t[40]}",
        "and": f"{t[0]} AND {t[1]}",
        "not": f"{t[0]} NOT {t[1]}",
        "and_or": f"({t[0]} AND {t[2]}) OR ({t[3]} AND {t[4]})",
    }


KINDS = ["single", "or", "and", "not", "and_or"]


@pytest.mark.parametrize("similarity", ["bm25", "classic", "lmd"])
@pytest.mark.parametrize("k", [10, 100])
@pytest.mark.parametrize("kind", KINDS)
def test_search_parity(spark, monkeypatch, idx, by_df, kind, k, similarity):
    q = _queries(by_df)[kind]
    (local, lj), (dist, dj) = _both_paths(
        spark, monkeypatch, lambda: search(idx, q, k=k, similarity=similarity))
    assert len(local.docids) > 0
    _assert_same(local, dist)
    assert (lj, dj) == (0, 2)


@pytest.mark.parametrize("similarity", ["bm25", "classic", "lmd"])
@pytest.mark.parametrize("k", [10, 100])
def test_search_many_parity(spark, monkeypatch, idx, by_df, k, similarity):
    batch = _queries(by_df)
    (local, lj), (dist, dj) = _both_paths(
        spark, monkeypatch,
        lambda: search_many(idx, batch, k=k, similarity=similarity))
    assert set(local) == set(dist) == set(batch)
    for qid in batch:
        assert len(local[qid].docids) > 0
        _assert_same(local[qid], dist[qid])
    assert (lj, dj) == (0, 2)


def test_search_after_cursor_parity(spark, monkeypatch, idx, by_df):
    q = _queries(by_df)["or"]
    page1 = search(idx, q, k=10)
    after = (float(page1.scores[-1]), int(page1.docids[-1]))
    (local, _), (dist, _) = _both_paths(
        spark, monkeypatch, lambda: search(idx, q, k=10, after=after))
    assert len(local.docids) == 10
    assert not set(local.docids.tolist()) & set(page1.docids.tolist())
    _assert_same(local, dist)


def test_search_many_after_cursor_parity(spark, monkeypatch, idx, by_df):
    batch = _queries(by_df)
    first = search_many(idx, batch, k=10)
    afters = {qid: (float(td.scores[-1]), int(td.docids[-1]))
              for qid, td in first.items() if len(td.docids) == 10}
    assert afters
    (local, _), (dist, _) = _both_paths(
        spark, monkeypatch,
        lambda: search_many(idx, batch, k=10, ks={"single": 7}, afters=afters))
    for qid in batch:
        _assert_same(local[qid], dist[qid])
    assert len(local["single"].docids) == 7


def test_pulsed_index_parity(spark, monkeypatch, pulsed, by_df, singles):
    q = f"{by_df[0]} OR {singles[0]} OR {singles[1]} OR {by_df[7]}"
    (local, lj), (dist, dj) = _both_paths(
        spark, monkeypatch, lambda: search(pulsed, q, k=100))
    assert len(local.docids) > 0
    _assert_same(local, dist)
    # the resident postings hold the df == 1 rows: no sidecar lookup on the
    # driver path; the distributed path still reads the sidecar (1 job)
    assert (lj, dj) == (0, 3)
    (many, _), (many_d, _) = _both_paths(
        spark, monkeypatch,
        lambda: search_many(pulsed, {"mixed": q, "frequent": by_df[2]}, k=50))
    for qid in ("mixed", "frequent"):
        _assert_same(many[qid], many_d[qid])


def test_all_pulsed_query_parity(spark, monkeypatch, pulsed, singles):
    q = " OR ".join(singles[:5])
    (local, lj), (dist, dj) = _both_paths(
        spark, monkeypatch, lambda: search(pulsed, q, k=10))
    assert len(local.docids) == 5
    _assert_same(local, dist)
    # resident postings: no job; distributed: the sidecar collect + 2
    assert lj == 0 and dj == 3
    (many, mj), (many_d, _) = _both_paths(
        spark, monkeypatch, lambda: search_many(pulsed, {"s": q}, k=10))
    _assert_same(many["s"], many_d["s"])
    assert mj == 0


@pytest.fixture(scope="module")
def tombstoned(spark, idx):
    """``idx`` with every tenth doc deleted, its live docs loaded."""
    handle = idx.delete_docs(spark.range(0, 600, 10).withColumnRenamed("id", "docid"))
    assert len(handle.deleted_docids(S.LOCAL_SCORE_MAX_POSTINGS)) == 60
    return handle


HANDLES = ["idx", "tombstoned", "pulsed"]
# forced-distributed jobs of one executor run: the shuffle-map stage and the
# scoring stage, one more for the tombstone mask and one for a sidecar lookup
_DIST_JOBS = {"idx": 2, "tombstoned": 3, "pulsed": 2}


@pytest.mark.parametrize("handle", HANDLES)
@pytest.mark.parametrize("kind", KINDS)
def test_count_hits_parity(spark, monkeypatch, request, by_df, handle, kind):
    h = request.getfixturevalue(handle)
    q = _queries(by_df)[kind]
    (local, lj), (dist, dj) = _both_paths(spark, monkeypatch, lambda: S.count_hits(h, q))
    assert local == dist > 0
    assert (lj, dj) == (0, _DIST_JOBS[handle])
    assert local == len(search(h, q, k=600, prune=False).docids)


@pytest.mark.parametrize("handle", HANDLES)
def test_count_hits_of_singletons_parity(spark, monkeypatch, request, by_df, singles, handle):
    h = request.getfixturevalue(handle)
    q = f"{by_df[3]} OR " + " OR ".join(singles[:6])
    (local, lj), (dist, dj) = _both_paths(spark, monkeypatch, lambda: S.count_hits(h, q))
    assert local == dist == len(search(h, q, k=600).docids)
    assert (lj, dj) == (0, _DIST_JOBS[handle] + (handle == "pulsed"))


@pytest.mark.parametrize("handle", HANDLES)
@pytest.mark.parametrize("ascending", [True, False])
def test_sorted_topk_parity(spark, monkeypatch, request, by_df, singles, handle, ascending):
    h = request.getfixturevalue(handle)
    q = f"{by_df[5]} OR {singles[0]} OR {singles[1]}"
    (local, lj), (dist, dj) = _both_paths(spark, monkeypatch, lambda: S.sorted_topk(
        h, q, k=150, ascending=ascending, probe_segments=1, return_stats=True))
    (docids, stats), (dist_docids, dist_stats) = local, dist
    assert docids.dtype == dist_docids.dtype == np.int64
    assert docids.tolist() == dist_docids.tolist()
    assert stats == dist_stats == {"segments_probed": 3, "segments_total": 6}
    assert len(set((docids // 100).tolist())) > 1  # k crosses segments
    want = sorted(search(h, q, k=600, prune=False).docids.tolist(), reverse=not ascending)
    assert docids.tolist() == want[:150]
    # two probe rounds; the distributed path lists the segments first
    assert (lj, dj) == (0, 2 + 2 * _DIST_JOBS[handle])


def test_search_with_total_counts_under_filter_docs(spark, idx):
    allow = spark.range(0, 50).withColumnRenamed("id", "docid")
    td, total, rel = S.search_with_total(idx, "court", k=100, filter_docs=allow)
    assert 0 < len(td.docids) == total < 50
    assert (td.docids < 50).all() and rel == "EQUAL_TO"
    unfiltered = S.search_with_total(idx, "court", k=100)[1]
    assert unfiltered == S.count_hits(idx, "court") > total


def test_pulse_index_hands_on_snapshots(idx):
    p = pulse_index(idx)
    assert p._term_stats is idx._term_stats is not None
    assert p._postings is idx._postings is not None


def test_bound_is_inclusive_sum_of_df(spark, monkeypatch, idx, by_df):
    q = _queries(by_df)["or"]
    total = sum(S.term_dfs([by_df[0], by_df[5], by_df[40]], idx).values())
    monkeypatch.setattr(S, "LOCAL_SCORE_MAX_POSTINGS", total)
    assert _counted(spark, lambda: search(idx, q, k=10))[1] == 1
    monkeypatch.setattr(S, "LOCAL_SCORE_MAX_POSTINGS", total - 1)
    assert _counted(spark, lambda: search(idx, q, k=10))[1] == 2


def _between(idx, terms):
    """A bound that admits the query (Σ df of ``terms``) but not the whole
    index, so the query is scored on the driver from one collect."""
    want = sum(S.term_dfs(terms, idx).values())
    assert want < int(idx.term_stats().df.sum())
    return want


@pytest.mark.parametrize("kind", KINDS)
def test_collected_driver_path_parity(spark, monkeypatch, idx, by_df, kind):
    q = _queries(by_df)[kind]
    resident = search(idx, q, k=100)
    monkeypatch.setattr(S, "LOCAL_SCORE_MAX_POSTINGS",
                        _between(idx, S._plan(idx, q).terms))
    assert idx.resident_postings(S.LOCAL_SCORE_MAX_POSTINGS) is None
    collected, jobs = _counted(spark, lambda: search(idx, q, k=100))
    _assert_same(collected, resident)
    assert jobs == 1
    batch = _queries(by_df)
    monkeypatch.setattr(S, "LOCAL_SCORE_MAX_POSTINGS", _between(
        idx, sorted({t for p in batch.values() for t in S._plan(idx, p).terms})))
    many, jobs = _counted(spark, lambda: search_many(idx, batch, k=100))
    assert jobs == 1
    _assert_same(many[kind], resident)


def test_resident_explain_launches_no_job(spark, idx, by_df):
    q = _queries(by_df)["or"]
    td = search(idx, q, k=3, precision="float64")
    for docid, score in zip(td.docids.tolist(), td.scores.tolist()):
        pdf, jobs = _counted(spark, lambda: S.explain(idx, q, docid, precision="float64"))
        assert jobs == 0
        assert pdf["score"].sum() == pytest.approx(score, abs=1e-12)


def _small(spark, n=120, seed=21):
    return build_index(spark, _pages(spark, n, seed), seg_size=32)


def test_reassigned_postings_reload_the_snapshot(spark):
    handle = _small(spark)
    term = handle.term_stats().terms[np.argmax(handle.term_stats().df)]
    assert len(search(handle, term, k=10).docids) == 10
    snap = handle.resident_postings(S.LOCAL_SCORE_MAX_POSTINGS)
    handle.postings = handle.postings.filter(F.col("term") != term)
    assert handle.resident_postings(S.LOCAL_SCORE_MAX_POSTINGS) is not snap
    assert len(search(handle, term, k=10).docids) == 0
    assert handle.resident_postings(S.LOCAL_SCORE_MAX_POSTINGS) is \
        handle.resident_postings(S.LOCAL_SCORE_MAX_POSTINGS)


def test_refreshed_reader_scores_appended_docs(spark, monkeypatch, tmp_path):
    out = str(tmp_path / "live")
    write_index(_small(spark), out)
    before = read_index(spark, out)
    search(before, "court", k=5)  # the old handle's snapshot is loaded
    extra = _pages(spark, 40, seed=22).withColumn(
        "url", F.concat(F.lit("https://appended.example/"), F.col("url")))
    assert append_batch(spark, extra, out, seg_size=32) == 40
    after = refresh_reader(spark, out)
    appended = set(range(128, 168))  # the next fresh segment base of 120 docs
    q = "court OR planes OR river"
    (local, _), (dist, _) = _both_paths(spark, monkeypatch, lambda: search(after, q, k=200))
    _assert_same(local, dist)
    assert set(local.docids.tolist()) & appended
    assert not set(search(before, q, k=200).docids.tolist()) & appended


def test_delete_docs_shares_postings_but_loads_own_live_docs(spark, idx):
    bound = S.LOCAL_SCORE_MAX_POSTINGS
    deleted = idx.delete_docs(spark.createDataFrame([(7,), (3,), (300,)], "docid long"))
    assert deleted.resident_postings(bound) is idx.resident_postings(bound)
    assert idx.deleted_docids(bound).tolist() == []
    assert deleted.deleted_docids(bound).tolist() == [3, 7, 300]
    again = deleted.delete_docs(spark.createDataFrame([(5,)], "docid long"))
    assert again.resident_postings(bound) is idx.resident_postings(bound)
    assert again.deleted_docids(bound).tolist() == [3, 5, 7, 300]


def test_tombstoned_index_takes_driver_path(spark, monkeypatch, idx, by_df):
    q = _queries(by_df)["or"]
    top = search(idx, q, k=10).docids[:3].tolist()
    deleted = idx.delete_docs(spark.createDataFrame([(d,) for d in top], "docid long"))
    _, first = _counted(spark, lambda: search(deleted, q, k=10))
    assert first == 1  # loads the live docs, once per handle
    for kind in KINDS:
        qk = _queries(by_df)[kind]
        (td, lj), (dist, dj) = _both_paths(spark, monkeypatch,
                                           lambda: search(deleted, qk, k=100))
        _assert_same(td, dist)
        assert (lj, dj) == (0, 3)
        assert not set(td.docids.tolist()) & set(top)
    batch = _queries(by_df)
    (many, mj), (many_d, _) = _both_paths(spark, monkeypatch,
                                          lambda: search_many(deleted, batch, k=10))
    assert mj == 0
    for qid in batch:
        _assert_same(many[qid], many_d[qid])
    assert many["or"].docids.tolist() == search(deleted, q, k=10).docids.tolist()


def test_tombstones_over_the_bound_take_distributed_path(spark, monkeypatch, idx, singles):
    """Above the bound the live docs are not collected: the deny cogroup
    masks them, as before the reader-resident live docs."""
    q = " OR ".join(singles[:40])
    deleted = idx.delete_docs(spark.range(0, 600, 2).withColumnRenamed("id", "docid"))
    want = search(deleted, q, k=100)
    monkeypatch.setattr(S, "LOCAL_SCORE_MAX_POSTINGS", 200)  # < 300 tombstones
    assert deleted.deleted_docids(S.LOCAL_SCORE_MAX_POSTINGS) is None
    _forbid_driver_scoring(monkeypatch)
    got, jobs = _counted(spark, lambda: search(deleted, q, k=100))
    _assert_same(got, want)
    assert jobs == 3  # as on the forced-distributed path: the deny cogroup
    assert len(got.docids) and not (got.docids % 2 == 0).any()


def _forbid_driver_scoring(monkeypatch):
    def fail(*a, **kw):
        raise AssertionError("took the driver-scored path")

    monkeypatch.setattr(S, "_segments_on_driver", fail)


def test_filter_docs_takes_distributed_path(spark, monkeypatch, idx, by_df):
    q = _queries(by_df)["or"]
    _forbid_driver_scoring(monkeypatch)
    allow = spark.range(0, 300).withColumnRenamed("id", "docid")
    td = search(idx, q, k=10, filter_docs=allow)
    assert len(td.docids) > 0 and (td.docids < 300).all()


def test_driver_scoring_builds_no_pandas_frame(monkeypatch, idx, by_df):
    """A warmed resident search()/search_many reads its rows from Arrow into
    the kernel and its hits out as arrays: no Arrow→pandas conversion (the
    ``pyarrow.pandas_compat`` function ``Table.to_pandas`` calls, as the
    Cython type cannot be patched), no per-row ``to_dict``, no ``groupby``,
    no frame at all."""
    import pandas as pd
    import pyarrow.pandas_compat

    batch = _queries(by_df)
    want = {"one": search(idx, batch["and_or"], k=10), "many": search_many(idx, batch, k=10)}

    def fail(*a, **kw):
        raise AssertionError("pandas on the driver-scored path")

    monkeypatch.setattr(pyarrow.pandas_compat, "table_to_dataframe", fail)
    for name in ("to_dict", "groupby", "__init__"):
        monkeypatch.setattr(pd.DataFrame, name, fail)
    _assert_same(search(idx, batch["and_or"], k=10), want["one"])
    got = search_many(idx, batch, k=10)
    for qid in batch:
        _assert_same(got[qid], want["many"][qid])


@pytest.fixture(scope="module")
def ties(spark):
    """40 docs of 4 repeated texts in segments of 10, so equal scores recur
    in every segment."""
    texts = ["alpha beta", "alpha gamma delta", "beta gamma", "alpha alpha beta"]
    rows = [(f"t{i:02d}", texts[i % 4]) for i in range(40)]
    index = build_index(spark, spark.createDataFrame(rows, "url string, text string"),
                        seg_size=10)
    search(index, "alpha", k=1)  # warm: resident snapshots
    return index


def test_ties_across_segments_and_empty_qid_parity(spark, monkeypatch, ties):
    """The k cut falls inside a run of equal scores spread over segments, and
    one planned query ("delta" only occurs beside "gamma") matches in no
    segment: both executors cut by (score desc, docid asc) and give that
    query empty TopDocs."""
    every = search(ties, "alpha", k=100)
    assert len(every.docids) == 30
    assert every.scores[14] == every.scores[15]
    cut = every.docids[every.scores == every.scores[14]]
    assert len(set((cut // 10).tolist())) > 1  # the tie spans segments
    batch = {"tie": "alpha", "none": "delta NOT gamma", "or": "beta OR gamma"}
    (local, lj), (dist, _) = _both_paths(
        spark, monkeypatch,
        lambda: search_many(ties, batch, k=7, ks={"tie": 15}))
    assert lj == 0
    for qid in batch:
        _assert_same(local[qid], dist[qid])
    assert len(local["none"].docids) == 0
    assert local["tie"].docids.tolist() == every.docids[:15].tolist()
    (one, _), (one_d, _) = _both_paths(spark, monkeypatch, lambda: search(ties, "alpha", k=15))
    _assert_same(one, one_d)
    _assert_same(one, local["tie"])


def test_top_docs_many_matches_a_sorted_reference():
    """The vectorized per-query cut against a plain sort of each query's hits."""
    rng = np.random.default_rng(5)
    n = 500
    qids = rng.choice(np.array(["a", "b", "c"], dtype=object), n)
    docids = rng.permutation(n).astype(np.int64)
    scores = rng.integers(0, 6, n).astype(np.float64)  # many ties
    ks = {"a": 3, "b": 1000}
    got = S._top_docs_many(["a", "b", "c", "d"], qids, docids, scores, ks, 10)
    for qid in "abcd":
        ref = sorted((-s, d) for q, d, s in zip(qids, docids, scores) if q == qid)
        ref = ref[:ks.get(qid, 10)]
        assert got[qid].docids.tolist() == [d for _, d in ref]
        assert got[qid].scores.tolist() == [-s for s, _ in ref]
        assert got[qid].docids.dtype == np.int64 and got[qid].scores.dtype == np.float64
        # its own arrays, not views that pin the whole batch's hits
        assert got[qid].docids.base is None and got[qid].scores.base is None


def _head_or(by_df, n=6):
    return " OR ".join(by_df[:n])


def test_one_window_segments_skip_the_pruning_machinery(monkeypatch, idx, by_df):
    """Every segment of ``idx`` (seg_size 100) is one 4096-doc window, so a
    warmed resident query scores it exhaustively: no window bound and no
    window batch, although the head-term OR below holds more postings per
    segment than the cost rule's 256 (so the one-window rule, not that
    rule, makes the choice)."""
    from lucene_spark import kernel

    q = _head_or(by_df)
    snap = idx.resident_postings(S.LOCAL_SCORE_MAX_POSTINGS)
    cost = {}
    for r in snap.rows(S._plan(idx, q).terms):
        cost[r["seg"]] = cost.get(r["seg"], 0) + r["df_local"]
    assert max(cost.values()) > 256
    batch = {"head": q, **_queries(by_df)}
    want = {"one": search(idx, q, k=10, prune=False),
            "many": search_many(idx, batch, k=10, prune=False)}

    def fail(*a, **kw):
        raise AssertionError("window pruning on a one-window segment")

    monkeypatch.setattr(kernel, "_score_windows", fail)
    monkeypatch.setattr(kernel, "window_max_scores", fail)
    _assert_same(search(idx, q, k=10), want["one"])
    got = search_many(idx, batch, k=10)
    for qid in batch:
        _assert_same(got[qid], want["many"][qid])


def test_multi_window_segment_still_prunes(spark, monkeypatch):
    """A segment of more than one window keeps the windowed block-max path:
    1000 docs in one 1024-doc segment cut into 32-doc windows
    (``window_bits=5``), and a k=10 OR of two head terms (in every doc)
    and a selective term (in the first 20 docs) scores fewer windows than
    hold postings, with the exhaustive path's exact answer."""
    from lucene_spark import kernel

    n = 1000
    rows = [(f"mw{i:04d}", "alpha beta" + (" zeta" if i < 20 else "")) for i in range(n)]
    index = build_index(spark, spark.createDataFrame(rows, "url string, text string"),
                        seg_size=1024)
    q = "alpha OR beta OR zeta"
    plan = S._plan(index, q)
    term_rows = {r["term"]: r for r in S._driver_rows(index, plan.terms)}  # one segment
    window_bits = 5
    occupied = np.unique(np.concatenate(
        [np.asarray(r["docids"]) >> window_bits for r in term_rows.values()]))
    scored = []
    score_windows = kernel._score_windows

    def spy(windows, *a, **kw):
        scored.extend(windows)
        return score_windows(windows, *a, **kw)

    monkeypatch.setattr(kernel, "_score_windows", spy)
    d, s = kernel.segment_topk(plan.node, term_rows, plan.scorers, index.seg_size, 10,
                               window_bits=window_bits)
    assert 0 < len(scored) < len(occupied)
    want_d, want_s = kernel.segment_topk(plan.node, term_rows, plan.scorers,
                                         index.seg_size, 10, prune=False)
    assert d.tolist() == want_d.tolist() and s.tobytes() == want_s.tobytes()
    assert sorted(d.tolist()) == list(range(10))


class _NoTable:
    """Stands in for a snapshot's Arrow table: any use of it fails."""

    def __getattr__(self, name):
        raise AssertionError(f"resident query read the snapshot table ({name})")


def test_resident_rows_are_views_not_table_copies(monkeypatch, idx, by_df):
    """A warmed resident search()/search_many reads its rows from the
    snapshot's flat numpy views: it never touches the Arrow table (so no
    list-column ``to_numpy``; the Cython types cannot be patched, so the
    table itself is swapped for one that fails), no ``take`` (``Table.take``
    calls ``pyarrow.compute.take``) and not the collecting path's
    ``_arrow_rows``."""
    import dataclasses

    import pyarrow as pa
    import pyarrow.compute as pc

    batch = _queries(by_df)
    want = {"one": search(idx, batch["and_or"], k=10), "many": search_many(idx, batch, k=10)}
    snap = idx.resident_postings(S.LOCAL_SCORE_MAX_POSTINGS)
    assert {"docids", "freqs", "dls", "imp_freqs"} <= set(snap.flat)
    for name, (values, offsets) in snap.flat.items():  # views of the table, not copies
        chunk = snap.table.column(name).chunk(0)
        data = chunk.values.buffers()[1] if pa.types.is_list(chunk.type) else chunk.buffers()[2]
        assert len(offsets) == len(chunk) + 1
        assert len(values) == 0 or values.ctypes.data == data.address

    def fail(*a, **kw):
        raise AssertionError("Arrow take or row conversion on the resident path")

    monkeypatch.setattr(idx, "_postings", dataclasses.replace(snap, table=_NoTable()))
    monkeypatch.setattr(pc, "take", fail)
    monkeypatch.setattr(S, "_arrow_rows", fail)
    _assert_same(search(idx, batch["and_or"], k=10), want["one"])
    got = search_many(idx, batch, k=10)
    for qid in batch:
        _assert_same(got[qid], want["many"][qid])


def test_docids_past_int32_parity(spark, monkeypatch):
    """Caller docids around 2**31, in segments of 100 (so a segment's base
    fits int32 while its docids do not): the resident path, whose postings
    are int32 views, returns the same int64 docids and scores as the
    forced-distributed path."""
    n, first = 120, 2**31 - 150
    pdf = generate_pages(n, seed=8)[["url", "text"]]
    pdf["url"] = [f"https://big.example/{i}" for i in range(n)]
    pdf["docid"] = [first + 3 * i for i in range(n)]
    index = build_index(spark, spark.createDataFrame(pdf), seg_size=100, docid_col="docid")
    search(index, "court", k=5)  # warm: resident snapshots
    assert index.resident_postings(S.LOCAL_SCORE_MAX_POSTINGS) is not None
    ts = index.term_stats()
    t = ts.terms[np.argsort(-ts.df, kind="stable")].tolist()
    batch = {**_queries(t), "head": _head_or(t, 4)}
    (local, jobs), (dist, _) = _both_paths(spark, monkeypatch,
                                          lambda: search_many(index, batch, k=n))
    assert jobs == 0
    for qid in batch:
        _assert_same(local[qid], dist[qid])
    got = local["head"].docids
    assert set(got.tolist()) <= set(pdf["docid"].tolist()) and got.max() >= 2**31
    (one, jobs), (one_d, _) = _both_paths(spark, monkeypatch,
                                          lambda: search(index, batch["head"], k=n))
    assert jobs == 0
    _assert_same(one, one_d)
    _assert_same(one, local["head"])
