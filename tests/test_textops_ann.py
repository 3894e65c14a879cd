"""textops + ann unit/integration tests (pandas-checked)."""

import numpy as np
import pandas as pd
import pytest

from lucene_spark import ann, textops


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (0, "the cat sat on the mat", "en"),
        (1, "the cat sat on the mat", "en"),  # exact dup of 0
        (2, "the cat sat on the hat", "en"),  # near dup
        (3, "completely different words entirely unrelated", "en"),
        (4, "der hund lief durch den wald schnell", "de"),
        (5, "the dog ran through the park and the cat sat", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_duplicates(docs_df):
    out = textops.exact_duplicates(docs_df).collect()
    assert len(out) == 1
    assert out[0]["n_dups"] == 2 and out[0]["canonical_id"] == 0


def test_fingerprint_is_md5(docs_df):
    import hashlib

    out = {r["doc_id"]: r["fingerprint"] for r in textops.fingerprint(docs_df).collect()}
    assert out[0] == hashlib.md5(b"the cat sat on the mat").hexdigest()
    assert out[0] == out[1] != out[2]


def test_ngram_jaccard(docs_df):
    out = textops.ngram_jaccard_pairs(docs_df, n=3, threshold=0.3).collect()
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in out}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.3 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_ngram_jaccard_guard_exact_for_rare_shingles(docs_df):
    # with a df cap that keeps all shingles rare, guarded == unguarded, and
    # reported similarities are exact (full-set verification)
    unguarded = {(r["a"], r["b"]): r["jaccard"]
                 for r in textops.ngram_jaccard_pairs(docs_df, n=1, threshold=0.3).collect()}
    guarded = {(r["a"], r["b"]): r["jaccard"]
               for r in textops.ngram_jaccard_pairs(
                   docs_df, n=1, threshold=0.3, max_shingle_df=10).collect()}
    assert guarded == unguarded
    # with an aggressive cap, surviving pairs still report EXACT jaccard
    tight = {(r["a"], r["b"]): r["jaccard"]
             for r in textops.ngram_jaccard_pairs(
                 docs_df, n=1, threshold=0.3, max_shingle_df=2).collect()}
    for pair, j in tight.items():
        assert j == unguarded[pair]


def test_minhash_lsh_finds_exact_dups(docs_df):
    cand = {(r["a"], r["b"]) for r in
            textops.minhash_lsh_candidates(docs_df, n=3, num_perm=32, bands=16).collect()}
    assert (0, 1) in cand  # identical docs always collide in every band
    assert (3, 4) not in cand


def test_simhash_near_dups_closer(docs_df):
    sh = {r["doc_id"]: r["simhash"] for r in textops.simhash(docs_df).collect()}
    ham = lambda a, b: bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert sh[0] == sh[1]
    assert ham(sh[0], sh[2]) < ham(sh[0], sh[3])


def test_simhash_pairs_pigeonhole_exact(docs_df):
    # identical docs are hamming-0 pairs; the banded join must find exactly
    # the pairs a brute-force hamming check finds
    sh = {r["doc_id"]: r["simhash"] for r in textops.simhash(docs_df).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    want = {
        (i, j, ham(sh[i], sh[j]))
        for i in sh for j in sh if i < j and ham(sh[i], sh[j]) <= 3
    }
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in textops.simhash_pairs(docs_df, max_hamming=3).collect()
    }
    assert got == want
    assert (0, 1, 0) in got


def test_token_stats_and_quality_and_langid(docs_df):
    st = {r["doc_id"]: r for r in textops.token_stats(docs_df).collect()}
    assert st[0]["n_tokens"] == 6 and st[0]["n_stop"] == 3 and st[0]["n_distinct"] == 5
    q = {r["doc_id"]: r["quality"] for r in textops.quality_score(docs_df).collect()}
    assert all(0 <= v <= 1 for v in q.values())
    lid = {r["doc_id"]: r["lang_pred"] for r in textops.language_id(docs_df).collect()}
    assert lid[0] == "en" and lid[4] == "unk"


# ---------------------------------------------------------------- ann


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal(16)
    rows = []
    for i in range(40):
        if i < 5:
            v = base + rng.standard_normal(16) * 0.05  # tight cluster near base
        else:
            v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v], i % 3))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk_matches_numpy(emb_df):
    pdf = emb_df.toPandas()
    mat = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
    q = mat[0]
    cos = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    want = np.lexsort((pdf["vec_id"], -cos))[:5]
    got = ann.brute_force_topk(emb_df, q, k=5).collect()
    assert [r["vec_id"] for r in got] == pdf["vec_id"].iloc[want].tolist()
    np.testing.assert_allclose([r["cosine"] for r in got], cos[want], rtol=1e-9)


def test_lsh_topk_recovers_cluster(emb_df):
    pdf = emb_df.toPandas()
    q = np.asarray(pdf["embedding"][0], dtype=np.float64)
    got = ann.lsh_topk(emb_df, q, k=5, n_planes=8, dim=16, multiprobe_hamming=1).collect()
    ids = [r["vec_id"] for r in got]
    assert 0 in ids  # query vector itself always in its own bucket
    assert len(set(ids) & {0, 1, 2, 3, 4}) >= 3  # cluster mostly recovered


def test_ivf_topk_recovers_cluster(emb_df):
    pdf = emb_df.toPandas()
    q = np.asarray(pdf["embedding"][0], dtype=np.float64)
    got = ann.ivf_topk(emb_df, q, k=5, n_centroids=4, nprobe=2).collect()
    ids = [r["vec_id"] for r in got]
    assert 0 in ids
    assert len(set(ids) & {0, 1, 2, 3, 4}) >= 3
    # probing ALL lists must equal exact brute force
    got_all = ann.ivf_topk(emb_df, q, k=5, n_centroids=4, nprobe=4).collect()
    want = ann.brute_force_topk(emb_df, q, k=5).collect()
    assert [r["vec_id"] for r in got_all] == [r["vec_id"] for r in want]


def test_materialized_ivf_partition_pruned(tmp_path, spark, emb_df):
    out = str(tmp_path / "ivf")
    q = np.asarray(emb_df.toPandas()["embedding"][0], dtype=np.float64)
    ann.write_ivf_index(emb_df, out, n_centroids=4, iters=0)
    got = ann.ivf_topk_indexed(spark, out, q, k=5, nprobe=2)
    # the probe must be a cluster-partition-pruned scan, not a full read
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan
    # indexed probe == one-shot probe with the same deterministic quantizer
    want = ann.ivf_topk(emb_df, q, k=5, n_centroids=4, nprobe=2, iters=0).collect()
    assert [r["vec_id"] for r in got.collect()] == [r["vec_id"] for r in want]


def test_materialized_lsh_matches_oneshot(tmp_path, spark, emb_df):
    out = str(tmp_path / "lsh")
    q = np.asarray(emb_df.toPandas()["embedding"][0], dtype=np.float64)
    planes = ann.write_lsh_index(emb_df, out, n_planes=8, dim=16)
    got = ann.lsh_topk_indexed(spark, out, planes, q, k=5).collect()
    want = ann.lsh_topk(emb_df, q, k=5, n_planes=8, dim=16).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
    plan_df = ann.lsh_topk_indexed(spark, out, planes, q, k=5)
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan


def test_ivf_train_deterministic(emb_df):
    c1 = ann.ivf_train(emb_df, n_centroids=4, iters=2)
    c2 = ann.ivf_train(emb_df, n_centroids=4, iters=2)
    np.testing.assert_array_equal(c1, c2)


# ---------------------------------------------------------------- HTML → text


def test_html_to_text_roundtrip(spark):
    from lucene_spark.corpus import generate_pages

    pages = generate_pages(50, seed=42, n_stems=100)
    df = spark.createDataFrame(pages)
    out = textops.html_to_text(df).select("url", "text", "extracted_text").collect()
    for r in out:
        assert r["extracted_text"] == r["text"]  # byte-identical contract


def test_html_tags_stripped_before_decoding():
    """Tags come out of the raw bytes, so a UTF-8 sequence split by a tag
    rejoins; `filters.html_strip` sees the decoded string, where the split
    bytes are already replacement characters."""
    from lucene_spark.filters import html_strip

    raw = b"\xe2<b>\x82\xac"
    assert textops.extract_text_from_html(raw) == "\u20ac"
    assert html_strip(raw.decode("utf-8", errors="replace")) == "\ufffd" * 3


def test_embcos_pairs_exact_and_lsh(spark):
    """Embedding-cosine near-dup: exact baseline finds planted duplicates;
    LSH-bucketed variant finds the same NEAR-DUP pairs (cos→1 collides in
    every sign bucket) with a candidate set that is bucket-join-sized."""
    import numpy as np
    from lucene_spark.ann import embcos_pairs, embcos_pairs_lsh

    rng = np.random.default_rng(3)
    base = rng.normal(size=(20, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # plant 3 near-duplicates of vectors 0..2 (tiny perturbation -> cos ~ 1)
    for j in range(3):
        rows.append((100 + j, [float(x) for x in base[j] + 1e-4 * rng.normal(size=16)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {(r["a"], r["b"]) for r in embcos_pairs(emb, 0.999).collect()}
    assert exact == {(0, 100), (1, 101), (2, 102)}

    lsh = {(r["a"], r["b"]) for r in
           embcos_pairs_lsh(emb, 0.999, n_planes=8, dim=16).collect()}
    assert lsh == exact  # true near-dups share every sign bucket w.h.p.


def test_embcos_lsh_candidates_are_bucketed(spark):
    """The LSH variant's join is bucket-equality, not all-pairs: with one
    plane flipping sign between two orthogonal vectors they never pair."""
    from lucene_spark.ann import embcos_pairs_lsh

    emb = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [-1.0] * 8)], "vec_id long, embedding array<double>"
    )
    assert embcos_pairs_lsh(emb, -1.0, n_planes=4, dim=8).count() == 0


def test_bpe_token_count(spark):
    from lucene_spark.textops import bpe_token_count

    docs = spark.createDataFrame(
        [(0, "it's a test-case with 1234 numbers!"), (1, "plain words"), (2, "")],
        "doc_id long, text string",
    )
    r = {x["doc_id"]: x for x in bpe_token_count(docs).collect()}
    # pieces: "it" "'s" " a" " test" "-" "case" " with" " 1234" " numbers" "!"
    assert r[0]["n_pretokens"] == 10
    assert r[1]["n_pretokens"] == 2  # "plain", " words"
    assert r[2]["n_pretokens"] == 0 and r[2]["est_subwords"] == 0
    # est_subwords = sum ceil(bytes/4): 1+1+1+2+1+1+2+2+2+1 = 14
    assert r[0]["est_subwords"] == 14


def test_connected_components_and_canonical(spark):
    """Hash-to-min CC (Rastogi et al. 2013): chains, stars, and singletons;
    canonical_docs keeps one winner per component."""
    from lucene_spark.textops import canonical_docs, connected_components

    # chain 0-1-2-3 (diameter 3), star 10-{11,12,13}, pair 20-21
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (10, 12), (10, 13), (20, 21)],
        "a long, b long")
    cc = {r.node: r.component for r in connected_components(pairs).collect()}
    assert cc == {0: 0, 1: 0, 2: 0, 3: 0,
                  10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20}
    # order of pair endpoints must not matter
    cc2 = {r.node: r.component
           for r in connected_components(
               spark.createDataFrame([(3, 2), (1, 0), (2, 1)], "a long, b long")
           ).collect()}
    assert cc2 == {0: 0, 1: 0, 2: 0, 3: 0}

    docs = spark.createDataFrame(
        [(i, f"t{i}", float(i % 4)) for i in range(25)],
        "doc_id long, text string, q double")
    kept = canonical_docs(docs, connected_components(pairs))
    ids = sorted(r.doc_id for r in kept.collect())
    # one per component (0, 10, 20) + all unpaired docs
    paired = {0, 1, 2, 3, 10, 11, 12, 13, 20, 21}
    assert ids == sorted({0, 10, 20} | (set(range(25)) - paired))
    # quality winner: component 0 members have q = 0,1,2,3 -> doc 3 wins
    kept_q = canonical_docs(docs, connected_components(pairs),
                            quality_col="q")
    idsq = {r.doc_id for r in kept_q.collect()}
    assert 3 in idsq and 0 not in idsq


def test_cap_per_domain_and_contamination(spark):
    from lucene_spark.textops import cap_per_domain, ngram_contamination

    docs = spark.createDataFrame(
        [(i, f"d{i % 3}", float(i), "alpha beta gamma delta w" + str(i))
         for i in range(12)],
        "doc_id long, source string, q double, text string")
    kept = cap_per_domain(docs, 2, quality_col="q")
    got = sorted(r.doc_id for r in kept.collect())
    # best 2 per domain by q desc: domains 0/1/2 -> {9,6? ...}: per domain
    # d0={0,3,6,9} -> 9,6; d1={1,4,7,10} -> 10,7; d2={2,5,8,11} -> 11,8
    assert got == [6, 7, 8, 9, 10, 11]
    # id-ordered variant
    got2 = sorted(r.doc_id for r in cap_per_domain(docs, 1).collect())
    assert got2 == [0, 1, 2]

    # contamination: probe shares the 4-gram "alpha beta gamma delta"
    out = ngram_contamination(
        docs, ["xxx alpha beta gamma delta yyy", "nothing here at all"], n=4)
    rows = [(r.doc_id, r.probe_i, r.shared) for r in out.collect()]
    assert rows and all(p == 0 for _, p, _ in rows)
    assert {d for d, _, _ in rows} == set(range(12))
    # probe 1 shares no 4-gram -> absent
    assert not [r for r in rows if r[1] == 1]
    # empty probes
    assert ngram_contamination(docs, [], n=4).count() == 0


def test_dedup_lines(spark):
    from lucene_spark.textops import dedup_lines

    rows = [
        (0, "unique alpha\ncookie banner\nbody zero"),
        (1, " Cookie Banner \nbody one"),   # normalization: trim + lower
        (2, "cookie banner\nbody two\n"),   # trailing empty line kept
        (3, "solo text\n\nyes"),            # interior empty line kept
        (4, "yes\nbody four"),              # 'yes' df=2 but < min_chars
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup_lines(d, max_line_df=1, min_chars=4).collect()}
    assert out[0]["text"] == "unique alpha\nbody zero"
    assert (out[0]["n_lines"], out[0]["n_kept"]) == (3, 2)
    assert out[1]["text"] == "body one"
    assert out[2]["text"] == "body two\n"
    assert out[3]["text"] == "solo text\n\nyes"
    assert out[4]["text"] == "yes\nbody four"
    # raising the threshold keeps the banner
    out2 = {r["doc_id"]: r["text"]
            for r in dedup_lines(d, max_line_df=3, min_chars=4).collect()}
    assert out2[0] == rows[0][1]


def test_chunk_documents(spark):
    from lucene_spark.textops import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))),   # 10 toks, c=4, s=3
         (2, "a b"),                                   # short: one window
         (3, " ".join(f"x{i}" for i in range(7)))],    # starts 0, 3 (7-4=3)
        "doc_id long, text string")
    out = chunk_documents(docs, chunk_tokens=4, stride=3).toPandas()
    g = out.sort_values(["doc_id", "chunk_id"]).groupby("doc_id")
    d1 = g.get_group(1)
    # starts 0, 3, 6 (sequence stops at size-chunk = 6): full windows only
    assert d1["chunk_text"].tolist() == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9"]
    assert d1["n_tokens"].tolist() == [4, 4, 4]
    d2 = g.get_group(2)
    assert d2["chunk_text"].tolist() == ["a b"] and d2["n_tokens"].tolist() == [2]
    d3 = g.get_group(3)
    assert d3["chunk_text"].tolist() == ["x0 x1 x2 x3", "x3 x4 x5 x6"]


def test_pq_roundtrip_and_lloyd(spark):
    import numpy as np

    from lucene_spark.ann import (
        _pq_codes_np, brute_force_topk, pq_encode, pq_topk, pq_train,
    )

    rng = np.random.default_rng(3)
    # clustered data so PQ recall is meaningful
    centers = rng.normal(size=(4, 32))
    X = np.concatenate([
        c + 0.05 * rng.normal(size=(25, 32)) for c in centers])
    emb = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))],
        "vec_id long, embedding array<double>")
    books0 = pq_train(emb, m=4, k=8, iters=0)
    books1 = pq_train(emb, m=4, k=8, iters=2)
    assert books0.shape == books1.shape == (4, 8, 8)
    # Lloyd matches a local numpy replay
    B = books0.copy()
    for _ in range(2):
        for j in range(4):
            Xj = X[:, j * 8:(j + 1) * 8]
            d = ((Xj[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
            cl = np.argmin(d, axis=1)
            for c in range(8):
                if (cl == c).any():
                    B[j][c] = Xj[cl == c].mean(axis=0)
    assert np.allclose(books1, B)
    q = X[0]
    # fused vs materialized-codes path agree exactly
    a = pq_topk(emb, books1, q, k=10).toPandas()
    codes = pq_encode(emb, books1)
    b = pq_topk(emb, books1, q, k=10, codes=codes).toPandas()
    assert a["vec_id"].tolist() == b["vec_id"].tolist()
    assert a["score"].tolist() == b["score"].tolist()
    # recall vs brute force on clustered data: trained books find the
    # query's cluster
    bf = brute_force_topk(emb, q, k=10).toPandas()["vec_id"].tolist()
    overlap = len(set(bf) & set(a["vec_id"].tolist()))
    # quantization crushes WITHIN-cluster fine ranking (8 codes/subspace),
    # so pin the coarse property: a majority of the true top-10 survives
    # and every retrieved vector comes from the query's cluster
    assert overlap >= 5
    assert all(v < 25 for v in a["vec_id"].tolist())
    # compression shape: m ints per row
    assert codes.toPandas()["codes"].map(len).eq(4).all()


def test_substring_dup_pairs(spark):
    from lucene_spark.textops import substring_dup_pairs

    base = "x y z " * 30                       # 180 chars of shared tail
    docs = spark.createDataFrame(
        [(1, "alpha " + base), (2, "beta " + base),
         (3, "gamma unrelated text " + "q " * 40),
         (4, "short")],
        "doc_id long, text string")
    out = substring_dup_pairs(docs, k=50).toPandas()
    pairs = set(zip(out["a"], out["b"]))
    assert (1, 2) in pairs                    # long shared substring found
    assert all(p == (1, 2) for p in pairs)    # nothing else pairs
    # df guard: a window shared by ALL docs generates no candidates
    docs2 = spark.createDataFrame(
        [(i, "common prefix shared by every doc here padpadpadpadpad "
          + f"tail{i} " * 10) for i in range(6)],
        "doc_id long, text string")
    guarded = substring_dup_pairs(docs2, k=50, max_window_df=2).count()
    unguarded = substring_dup_pairs(docs2, k=50).count()
    assert unguarded == 15 and guarded == 0


def test_winnow_guarantee(spark):
    # SIGMOD'03 theorem: any shared substring of length >= window + k - 1
    # (8 + 16 - 1 = 23 here) yields a shared fingerprint hash
    from lucene_spark.textops import winnow_fingerprints

    shared = "the quick brown fox jumps over it"   # 33 chars >= 23
    docs = spark.createDataFrame(
        [(1, "AAA " + shared + " BBB"), (2, "CCCCC " + shared + " DD"),
         (3, "totally different content with no common run at all")],
        "doc_id long, text string")
    fp = winnow_fingerprints(docs, k=16, window=8).toPandas()
    h1 = set(fp[fp.doc_id == 1]["h"])
    h2 = set(fp[fp.doc_id == 2]["h"])
    h3 = set(fp[fp.doc_id == 3]["h"])
    assert h1 & h2            # guaranteed shared fingerprint
    assert not (h1 & h3)
    # density: ~2/(w+1) of the k-gram stream, far below every-offset
    n_kgrams = len("AAA " + shared + " BBB") - 16 + 1
    assert len(fp[fp.doc_id == 1]) < n_kgrams / 2


def _winnow_naive(h, w, robust):
    """Scalar reference walk of both winnowing rules (paper text)."""
    import numpy as np

    n = len(h)
    if n <= w:
        m = min(h)
        return [max(i for i in range(n) if h[i] == m)]
    sel = set()
    prev = -1
    for s in range(n - w + 1):
        m = min(h[s:s + w])
        if robust and prev >= s and h[prev] == m:
            continue  # re-select the previous fingerprint on a tie
        prev = max(i for i in range(s, s + w) if h[i] == m)
        sel.add(prev)
    return sorted(sel)


def test_winnow_select_matches_naive_fuzz():
    # vectorized _winnow_select vs the scalar paper walk, both rules,
    # adversarial small alphabets so equal-hash ties are COMMON
    import numpy as np
    from lucene_spark.textops import _winnow_select

    rng = np.random.default_rng(7)
    for trial in range(300):
        n = int(rng.integers(1, 60))
        alpha = int(rng.integers(1, 6))  # tiny alphabet → many ties
        h = rng.integers(0, alpha, size=n).astype(np.int64)
        w = int(rng.integers(1, 12))
        for robust in (False, True):
            got = _winnow_select(h, w, robust).tolist()
            want = _winnow_naive(h.tolist(), w, robust)
            assert got == want, (trial, n, w, robust, h.tolist(), got, want)


def test_winnow_robust_fewer_on_tie_runs():
    # equal-hash run: robust keeps re-selecting the previous fingerprint,
    # standard picks the rightmost min of EVERY window (ADVICE r3 example)
    import numpy as np
    from lucene_spark.textops import _winnow_select

    h = np.array([3, 3, 3], dtype=np.int64)
    assert _winnow_select(h, 2, robust=False).tolist() == [1, 2]
    assert _winnow_select(h, 2, robust=True).tolist() == [1]


def test_winnow_jvm_hash_parity(spark):
    # the JVM md5-base60 expression must equal the hashlib twin the old
    # Python path used (and the DuckDB oracle still uses)
    import hashlib
    from lucene_spark.textops import winnow_fingerprints

    text = "winnowing parity check text with some repeats repeats repeats"
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    fp = winnow_fingerprints(docs, k=16, window=8).toPandas()
    for _, row in fp.iterrows():
        sub = text[row["off"]:row["off"] + 16]
        want = int(hashlib.md5(sub.encode("utf-8")).hexdigest()[:15], 16)
        assert int(row["h"]) == want
