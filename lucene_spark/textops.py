"""Training-data-pipeline text operators over a documents table.

Large-scale corpus curation ops the engine exposes alongside search — all
pure DataFrame ops (JVM-side, whole-stage codegen) except where hashing
semantics require numpy (minhash/simhash), which run as Arrow-batched pandas
UDFs.  Every exact op has an ANSI-SQL twin for the correctness gate.

Ops: HTML→text extraction (the pages table's html column), exact dedup
(md5 hash-groupBy), n-gram Jaccard near-dup (exact), MinHash+LSH near-dup
candidates (scale path), SimHash, language ID heuristic, quality scoring,
token counting, document fingerprinting.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .analysis import ENGLISH_STOP_WORDS

# ---------------------------------------------------------------- HTML → text

_TAG_RE = re.compile(rb"<[^>]+>")


def extract_text_from_html(html: bytes) -> str:
    """Strip tags; byte-identical inverse of the FIXTURES.md html wrapper."""
    return _TAG_RE.sub(b"", html or b"").decode("utf-8", errors="replace")


def html_to_text(pages: DataFrame, html_col: str = "html", out_col: str = "extracted_text") -> DataFrame:
    """mapInPandas HTML→text: streams Arrow batches, appends one string col."""
    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in pages.schema.fields)
    schema = f"{fields}, {out_col} string"

    def run(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [extract_text_from_html(h) for h in pdf[html_col]]
            yield pdf

    return pages.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------- exact dedup


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical texts: (fingerprint, n_dups, canonical_id).

    Hash-groupBy on md5 — shuffles only (hash, id), never text; at 100 TB the
    map-side projection keeps shuffle volume ~40 bytes/doc.
    """
    return (
        docs.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("canonical_id"))
        .filter(F.col("n_dups") > 1)
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stable per-doc content fingerprint (md5 of text)."""
    return docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("fingerprint"))


# ---------------------------------------------------------- n-gram jaccard


def token_ngrams(docs: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-grams per doc via split + slide (no UDF)."""
    toks = docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("toks"))
    # sliding n-grams: transform over index range, joined with space
    expr = (
        f"transform(sequence(0, size(toks)-{n}), i -> "
        f"concat_ws(' ', slice(toks, i+1, {n})))"
    )
    return (
        toks.filter(F.size("toks") >= n)
        .select(F.col(id_col), F.explode(F.expr(expr)).alias("ngram"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (a < b, jaccard >= threshold).

    Without ``max_shingle_df``: plain self-join on shared n-grams — exact but
    quadratic in per-shingle collisions (one ubiquitous n-gram explodes the
    join; fine for small corpora only).

    With ``max_shingle_df`` (the scale guard — standard stop-shingle
    practice): candidate pairs are generated ONLY from shingles with
    document frequency <= the cap, then each candidate's Jaccard is computed
    exactly over the FULL shingle sets.  Reported similarities are exact;
    the only approximation is the candidate contract — a pair sharing
    exclusively ultra-common shingles is never considered (such pairs are
    noise at any realistic threshold).  Join keys are then bounded by
    max_shingle_df, so no single shingle can produce more than
    max_shingle_df^2 candidate rows.
    """
    grams = token_ngrams(docs, id_col, text_col, n)
    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    a = grams.select(F.col(id_col).alias("a"), "ngram")
    b = grams.select(F.col(id_col).alias("b"), "ngram")
    if max_shingle_df is None:
        inter = (
            a.join(b, "ngram")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    else:
        rare = (
            grams.groupBy("ngram")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("ngram")
        )
        cand = (
            a.join(rare, "ngram")
            .join(b, "ngram")
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
        )
        # exact verify over FULL shingle sets, restricted to candidates:
        # equi-join on (doc, ngram) both sides — the candidate set bounds
        # the fan-out, full sets restore exactness
        inter = (
            cand.join(a, "a")
            .join(b, ["b", "ngram"])
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    return (
        inter.join(sizes.select(F.col(id_col).alias("a"), F.col("n_grams").alias("size_a")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("n_grams").alias("size_b")), "b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


# ---------------------------------------------------------- minhash + lsh
#
# Hashing scheme (shared, bit-exactly, with the DuckDB correctness oracle —
# and 100% JVM-side in Spark, no Python in the hot path):
#   base(s)  = first 15 hex chars of md5(s) as a 60-bit integer
#   x        = base(s) mod p,  p = 2^31 - 1
#   h_i(s)   = (a_i * x + b_i) mod p      (a_i, b_i deterministic from seed)
# a_i*x < 2^62 so every intermediate fits a signed 64-bit integer in both
# engines.  md5 is identical everywhere; this replaces the per-shingle
# Python FNV loop that would bottleneck a 100 TB dedup pass.

_P31 = (1 << 31) - 1
SIMHASH_BITS = 60  # md5-derived base is 60 bits; keeps every value in int64


def _minhash_params(num_perm: int, seed: int = 1) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _P31, num_perm, dtype=np.int64)
    b = rng.integers(0, _P31, num_perm, dtype=np.int64)
    return a, b


def base60_expr(col: str):
    """60-bit md5-derived base hash of a string column — JVM expression."""
    return F.conv(F.substring(F.md5(F.col(col)), 1, 15), 16, 10).cast("long")


def hash_str64(s: str) -> int:
    """Deterministic 64-bit FNV-1a (kept for API compat; the distributed ops
    now use the md5-based base60 scheme above)."""
    h = 0xCBF29CE484222325
    for byte in s.encode("utf-8"):
        h ^= byte
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    seed: int = 1,
) -> DataFrame:
    """Per-doc MinHash signature over word shingles — (id, sig array<long>).

    Whole-stage-codegen pipeline: shingle (split+slice), md5-base hash,
    num_perm affine permutations as JVM expressions, one hash-aggregate of
    per-permutation mins.  Docs with fewer than ``n`` tokens produce no
    shingles and are excluded (they would otherwise collide with every other
    short doc)."""
    a, b = _minhash_params(num_perm, seed)
    grams = token_ngrams(docs, id_col, text_col, n)
    x = (base60_expr("ngram") % F.lit(_P31)).alias("x")
    hashed = grams.select(F.col(id_col), x)
    mins = hashed.groupBy(id_col).agg(
        *[
            F.min((F.lit(int(a[i])) * F.col("x") + F.lit(int(b[i]))) % F.lit(_P31)).alias(f"h{i}")
            for i in range(num_perm)
        ]
    )
    return mins.select(
        F.col(id_col), F.array(*[F.col(f"h{i}") for i in range(num_perm)]).alias("sig")
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 1,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket → candidate pairs (a < b).

    The 100 TB near-dup path: shuffle keys are (band, band-key) — bounded —
    and pairs are generated within buckets only, never all-pairs.  Verify
    candidates with :func:`ngram_jaccard_pairs` semantics on the candidate
    subset.  Deterministic given ``seed`` — the correctness gate checks the
    exact pair set against a DuckDB twin of the same md5 pipeline.
    """
    rows = num_perm // bands
    sigs = minhash_signatures(docs, id_col, text_col, n, num_perm, seed)
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.expr(f"transform(sequence(0, {bands - 1}), b -> slice(sig, b*{rows}+1, {rows}))")
        ).alias("band", "bucket"),
    ).select(
        id_col, "band",
        F.concat_ws(",", F.col("bucket").cast("array<string>")).alias("bucket_key"),
    )
    a = banded.select(F.col(id_col).alias("a"), "band", "bucket_key")
    b = banded.select(F.col(id_col).alias("b"), "band", "bucket_key")
    return (
        a.join(b, ["band", "bucket_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash over tokens (near-dup by hamming distance).

    Charikar sign-sum: bit j of the fingerprint is 1 iff
    sum over distinct tokens of tf * (2*bit_j(base60(token)) - 1) > 0.
    Entirely JVM expressions (explode → tf aggregate → 60 signed bit sums →
    recombine) — no Python, and bit-exactly reproducible in the DuckDB
    oracle."""
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    hashed = tf.select(F.col(id_col), F.col("c"), base60_expr("tok").alias("h"))
    bit_sums = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.col("c") * (F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"s{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    acc = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        acc = term if acc is None else acc + term
    return bit_sums.select(F.col(id_col), acc.cast("long").alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance <= ``max_hamming``.

    Pigeonhole banding (the standard simhash join): split the 60 bits into
    ``max_hamming + 1`` chunks — any pair within the distance budget must
    agree EXACTLY on at least one chunk — join on (chunk index, chunk value),
    then verify with bit_count(a XOR b).  Shuffle keys are bounded chunk
    values; no all-pairs comparison ever happens."""
    n_chunks = max_hamming + 1
    if SIMHASH_BITS % n_chunks:
        raise ValueError(
            f"max_hamming+1 must divide {SIMHASH_BITS} for exact pigeonhole "
            f"banding (got {max_hamming})"
        )
    width = SIMHASH_BITS // n_chunks
    sh = simhash(docs, id_col, text_col)
    chunks = sh.select(
        F.col(id_col), F.col("simhash"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_chunks - 1}), "
                f"i -> shiftright(simhash, i*{width}) & {(1 << width) - 1})"
            )
        ).alias("chunk_i", "chunk_v"),
    )
    a = chunks.select(F.col(id_col).alias("a"), F.col("simhash").alias("sh_a"),
                      "chunk_i", "chunk_v")
    b = chunks.select(F.col(id_col).alias("b"), F.col("simhash").alias("sh_b"),
                      "chunk_i", "chunk_v")
    return (
        a.join(b, ["chunk_i", "chunk_v"])
        .filter(F.col("a") < F.col("b"))
        .select(
            "a", "b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------- text analysis

_STOP_ARRAY = sorted(ENGLISH_STOP_WORDS)


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc token counts: total, distinct, stopword count — pure SQL ops."""
    toks = docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("toks"))
    stop_lit = ",".join(f"'{w}'" for w in _STOP_ARRAY)
    return toks.select(
        id_col,
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        F.expr(f"size(filter(toks, t -> array_contains(array({stop_lit}), t)))").alias("n_stop"),
    )


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality: length, stopword ratio, distinct ratio — combined
    into [0,1].  Deterministic arithmetic (SQL twin exists)."""
    s = token_stats(docs, id_col, text_col)
    return s.select(
        id_col,
        "n_tokens",
        (
            F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0)) * 0.4
            + (F.col("n_stop") / F.col("n_tokens")) * 0.3
            + (F.col("n_distinct") / F.col("n_tokens")) * 0.3
        ).alias("quality"),
    )


def language_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-ratio language heuristic: en if >=5% English stopwords."""
    s = token_stats(docs, id_col, text_col)
    return s.select(
        id_col,
        F.when(F.col("n_stop") / F.col("n_tokens") >= 0.05, F.lit("en"))
        .otherwise(F.lit("unk"))
        .alias("lang_pred"),
    )


# GPT-2-style pre-tokenizer pattern (public BPE pre-tokenization shape),
# WITHOUT lookahead so both Java regex (Spark) and RE2 (DuckDB) accept it:
# contraction suffixes, space-prefixed letter runs, digit runs, punctuation
# runs, whitespace runs.
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}']+|\s+"


def bpe_token_count(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """BPE-ish token counting for training-data budgeting: pre-token pieces
    by the GPT-2-style regex plus a deterministic subword estimate
    (ceil(len/4) per piece — the ~4-chars-per-token rule of thumb).  All
    JVM-side (regexp_extract_all + aggregate fold): no Python, replicable
    exactly by DuckDB's RE2 regexp_extract_all."""
    # function API with a literal pattern Column — SQL-string escaping would
    # mangle the backslashes in \p{L}.  octet_length, not length: Spark
    # counts UTF-16 code units, DuckDB counts codepoints — byte length is
    # the one measure both engines agree on (and the ~4-bytes-per-token rule
    # is how token budgeting is usually quoted).
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PRETOKEN_RE), 0)
    est = F.aggregate(
        pieces,
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.ceil(F.octet_length(x) / 4.0).cast("long"),
    )
    return docs.select(
        F.col(id_col),
        F.size(pieces).cast("long").alias("n_pretokens"),
        est.alias("est_subwords"),
    )


# ------------------------------------------------ dedup: cluster + canonical


def connected_components(
    pairs: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate PAIR table → (node,
    component), component = min node id in the component.

    This is the step between pair generation (MinHash-LSH banding, SimHash
    hamming join, exact-hash chains) and canonical-document selection: a
    dedup pipeline must drop ALL BUT ONE doc per component, not per pair.

    Algorithm: iterative min-label propagation (the "hash-to-min" scheme of
    Rastogi et al., "Finding Connected Components in Map-Reduce in
    Logarithmic Rounds", ICDE 2013 — the same family as the large-star/
    small-star algorithm of Kiveris et al., MapReduce and Beyond 2014):
    every round each node takes the min label in its closed neighborhood;
    converges in O(diameter) rounds with per-round cost ONE shuffle over
    the PAIR table (pairs << corpus at any scale — near-dup components are
    small and star-shaped out of LSH buckets, so 2-4 rounds in practice).
    Each round's frame is localCheckpoint'ed to cut lineage growth.

    The driver-side loop only reads ONE aggregate per round (the change
    count) — no per-row data leaves the cluster.
    """
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            pairs.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # candidate label for v = comp(u) over every edge (u, v)
        cand = (
            edges.join(labels, edges.u == labels.node)
            .select(F.col("v").alias("node"), F.col("comp"))
        )
        new_labels = (
            labels.select("node", "comp").unionByName(cand)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels.select("node", F.col("comp").alias("component"))


def canonical_docs(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    quality_col: str | None = None,
) -> DataFrame:
    """Keep ONE document per duplicate component (plus every unpaired doc):
    the min-id member, or the best by ``quality_col`` (ties by id) — the
    "winner selection" step of a dedup pipeline.  Docs absent from
    ``components`` pass through (they had no duplicate candidate)."""
    from pyspark.sql import Window

    joined = docs.join(
        components.withColumnRenamed("node", id_col), id_col, "left"
    ).withColumn(
        "_comp", F.coalesce(F.col("component"), F.col(id_col))
    )
    order = [F.col(id_col).asc()]
    if quality_col is not None:
        order.insert(0, F.col(quality_col).desc())
    w = Window.partitionBy("_comp").orderBy(*order)
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_comp", "component")
    )


# --------------------------------------------- curation: domain caps, decontamination


def cap_per_domain(
    docs: DataFrame,
    n: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
    quality_col: str | None = None,
) -> DataFrame:
    """Per-domain document cap — the Common-Crawl-pipeline rule that no
    single host may dominate the training mix (C4/Gopher-style "keep at
    most N pages per domain"): keep the best ``n`` docs per ``domain_col``
    (by ``quality_col`` desc when given, ties by id; else lowest ids).

    One hit-free window per domain — the shuffle key is the domain, so the
    cap runs in one exchange at any corpus size; a skewed mega-domain
    bounds its partition at that domain's size, which is exactly the data
    this op exists to trim."""
    from pyspark.sql import Window

    order = [F.col(id_col).asc()]
    if quality_col is not None:
        order.insert(0, F.col(quality_col).desc())
    w = Window.partitionBy(domain_col).orderBy(*order)
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def dedup_lines(
    docs: DataFrame,
    max_line_df: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 1,
) -> DataFrame:
    """Cross-document line-level boilerplate removal — the CCNet paragraph
    dedup / RefinedWeb line-wise dedup step every web-corpus pipeline runs:
    a line whose normalized form (lower + trim) appears in MORE THAN
    ``max_line_df`` distinct documents is boilerplate (cookie banners, nav
    menus, share buttons) and is dropped from every document.  Lines whose
    normalized form is shorter than ``min_chars`` are never dropped (guards
    one-word lines like "yes").

    Returns one row per input doc: (id, n_lines, n_kept, text) with the
    surviving lines re-joined by newline in their original order (a doc
    whose every line is boilerplate survives with empty text — dropping
    docs is a separate quality decision).

    Spark shape: posexplode lines, count line-df grouped on md5(norm) (a
    32-hex shuffle key instead of arbitrarily long line strings), one join
    of lines against the boilerplate key set, one groupBy(id) rebuild with
    an order-restoring array_sort — two exchanges total, both keyed on
    bounded-width columns, no driver traffic.  At 100 TB the line-df
    aggregation is the heavy stage and it map-side combines; the rebuild
    shuffle is corpus-sized but carries each line exactly once.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("nl", F.lower(F.trim("line")))
    lines = lines.withColumn("lkey", F.md5("nl"))
    boiler = (
        lines.filter(F.length("nl") >= max(min_chars, 1))
        .groupBy("lkey")
        .agg(F.countDistinct(id_col).alias("ldf"))
        .filter(F.col("ldf") > max_line_df)
        .select("lkey")
        .withColumn("_boiler", F.lit(True))
    )
    marked = lines.join(boiler, "lkey", "left").withColumn(
        "keep", F.col("_boiler").isNull()
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("pos", "line"))
                        )
                    ),
                    lambda x: x["line"],
                ),
                "\n",
            ).alias(text_col),
        )
    )


def ngram_contamination(
    docs: DataFrame,
    probes: list[str],
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-decontamination flagging: documents sharing any word
    ``n``-gram with a probe set (the standard eval-contamination check —
    e.g. GPT-3 appendix C / PaLM used 8-13-gram overlap).  Returns
    (id, probe_i, shared n-gram count) per contaminated (doc, probe) pair.

    Spark shape: probe n-grams are a tiny broadcast side; docs shingle via
    the pure-Catalyst ``shingle_col`` and join on the n-gram hash — one
    broadcast hash join over the corpus scan, no shuffle."""
    from .analysis import make_analyze_udf
    from .filters import shingle_col, shingle_tokens

    spark = docs.sparkSession
    probe_rows = []
    for i, p in enumerate(probes):
        from .analysis import analyze

        toks = analyze(p, frozenset())  # probes keep stopwords: verbatim text
        for g in set(shingle_tokens(toks, n, n)):
            probe_rows.append((i, g))
    if not probe_rows:
        return spark.createDataFrame(
            [], f"{id_col} long, probe_i int, shared long")
    pdf = spark.createDataFrame(probe_rows, "probe_i int, gram string")
    toks = docs.select(
        F.col(id_col), make_analyze_udf(frozenset())(F.col(text_col)).alias("ts")
    )
    grams = toks.select(
        id_col, F.explode(shingle_col("ts", n)).alias("gram")
    )
    return (
        grams.join(F.broadcast(pdf), "gram")
        .groupBy(id_col, "probe_i")
        .agg(F.count(F.lit(1)).alias("shared"))
    )


# ------------------------------------------------ quality: repetition signals


def repetition_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021
    §A1.1: "fraction of characters in the most common n-gram" for n=2..4
    and "fraction of characters in duplicated n-grams" for n>=5), restated
    over TOKENS so the measure is analyzer-independent and exactly
    DuckDB-replicable:

    - ``top{n}_frac_q`` (n = 2, 3, 4): count(most frequent n-gram) * n
      / n_tokens, floor-quantized at 1e-4.  Overlapping occurrences each
      count, so the ratio may exceed 1 for degenerate docs — that is the
      point of the filter.
    - ``dup5_frac_q``: sum over 5-grams occurring more than once of
      (count * 5) / n_tokens, same quantization.
    - docs shorter than n tokens score 0 for that n.

    Spark shape: ONE union of per-n sliding shingles (pure Catalyst
    transform/slice — no UDF), one (id, n, gram) count, one per-(id, n)
    aggregate, conditional-aggregated back to one row per doc.  Every
    shuffle key includes the doc id, so there is no skew and the plan is
    corpus-partitionable at any scale.
    """
    toks = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("toks"))
    grams = None
    for n in (2, 3, 4, 5):
        expr = (
            f"transform(sequence(0, size(toks)-{n}), i -> "
            f"concat_ws(' ', slice(toks, i+1, {n})))"
        )
        g = (
            toks.filter(F.size("toks") >= n)
            .select(F.col(id_col), F.lit(n).alias("n"),
                    F.explode(F.expr(expr)).alias("gram"))
        )
        grams = g if grams is None else grams.unionAll(g)
    counts = grams.groupBy(id_col, "n", "gram").agg(
        F.count(F.lit(1)).alias("c"))
    per_n = counts.groupBy(id_col, "n").agg(
        F.max("c").alias("max_c"),
        F.sum(F.when(F.col("c") > 1, F.col("c"))).alias("dup_c"),
    )
    base = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"))

    def _q(col):
        return F.floor(col * 10000 / F.col("n_tokens")).cast("long")

    wide = base.join(per_n, id_col, "left").groupBy(id_col, "n_tokens").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("n") == n, _q(F.col("max_c") * n))),
                F.lit(0).cast("long"),
            ).alias(f"top{n}_frac_q")
            for n in (2, 3, 4)
        ],
        F.coalesce(
            F.max(F.when(F.col("n") == 5, _q(F.col("dup_c") * 5))),
            F.lit(0).cast("long"),
        ).alias("dup5_frac_q"),
    )
    return wide


# ------------------------------------------------ curation: PII redaction


PII_EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"


def redact_pii(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rule-based PII scrubbing for training corpora (the C4/RefinedWeb-
    style pre-release step): emails, IPv4 addresses, and NANP-style phone
    numbers are counted then replaced with typed placeholder tokens.

    Patterns are RE2-safe (no lookaround) so the Spark (Java regex) and
    DuckDB (RE2) engines match identically.  Replacement order matters and
    is fixed: emails first (their domains contain dots an IPv4 pattern
    could clip), then phones (longer digit runs), then IPv4.

    Returns (id, n_emails, n_phones, n_ipv4, clean_text) — all JVM-side
    regexp ops, one projection, no shuffle.
    """
    t = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), 0))
    step1 = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    n_phone = F.size(F.regexp_extract_all(step1, F.lit(PII_PHONE_RE), 0))
    step2 = F.regexp_replace(step1, PII_PHONE_RE, "<PHONE>")
    n_ip = F.size(F.regexp_extract_all(step2, F.lit(PII_IPV4_RE), 0))
    step3 = F.regexp_replace(step2, PII_IPV4_RE, "<IP>")
    return docs.select(
        F.col(id_col),
        n_email.cast("long").alias("n_emails"),
        n_phone.cast("long").alias("n_phones"),
        n_ip.cast("long").alias("n_ipv4"),
        step3.alias("clean_text"),
    )


# ------------------------------------------------ quality: LM cross-entropy


def lm_score(
    docs: DataFrame,
    train_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    backoff: float = 0.4,
) -> DataFrame:
    """Per-document bigram-LM cross-entropy — the CCNet-style "perplexity
    of a reference LM" quality filter (Wenzek et al. 2020), with the
    KenLM model replaced by a corpus-trained bigram model with stupid
    backoff (Brants et al. 2007), the same LM family the engine's
    FreeTextSuggester uses:

    - train on ``train_docs`` (default: the scored corpus itself),
    - P(w2 | w1) = c(w1 w2) / c(w1) when the bigram was seen, else
      ``backoff`` * (c(w2) + 0.5) / (N + 0.5) — the +0.5 keeps OOV
      continuations finite and deterministic,
    - ``xent_q`` = floor(-mean ln P over the doc's adjacent pairs * 1e4);
      docs with fewer than 2 tokens are returned with n_pairs = 0 and
      xent_q = 0.

    Spark shape: the bigram/unigram tables are vocabulary-sized aggregates
    (map-side combined); scoring is two standard equi-joins on term keys
    against the corpus pair stream — no driver materialization, no skewed
    keys beyond natural term frequency (AQE handles the head).
    """
    train = train_docs if train_docs is not None else docs

    def _pairs(d):
        toks = d.select(F.col(id_col), F.split(F.col(text_col), " ").alias("t"))
        expr = ("transform(sequence(0, size(t)-2), i -> "
                "struct(t[i] AS w1, t[i+1] AS w2))")
        return (
            toks.filter(F.size("t") >= 2)
            .select(F.col(id_col), F.explode(F.expr(expr)).alias("p"))
            .select(F.col(id_col), F.col("p.w1").alias("w1"),
                    F.col("p.w2").alias("w2"))
        )

    tr_pairs = _pairs(train)
    big = tr_pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = (
        train.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    )
    n_total = train.select(
        F.sum(F.size(F.split(F.col(text_col), " ")))).collect()[0][0] or 0

    sc = (
        _pairs(docs)
        .join(big, ["w1", "w2"], "left")
        .join(uni.select(F.col("w").alias("w1"), F.col("c1").alias("c_w1")),
              "w1", "left")
        .join(uni.select(F.col("w").alias("w2"), F.col("c1").alias("c_w2")),
              "w2", "left")
    )
    p = F.when(
        F.col("c12").isNotNull() & F.col("c_w1").isNotNull(),
        F.col("c12") / F.col("c_w1"),
    ).otherwise(
        F.lit(backoff) * (F.coalesce(F.col("c_w2"), F.lit(0)) + 0.5)
        / F.lit(float(n_total) + 0.5)
    )
    per_doc = sc.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.floor(-F.avg(F.log(p)) * 10000).cast("long").alias("xent_q"),
    )
    base = docs.select(F.col(id_col))
    return (
        base.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_pairs"), F.lit(0).cast("long")).alias("n_pairs"),
            F.coalesce(F.col("xent_q"), F.lit(0).cast("long")).alias("xent_q"),
        )
    )


def minhash_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    bucket_count: int = 512,
    hash_set_size: int = 1,
    with_rotation: bool = False,
) -> DataFrame:
    """MinHashFilter analog (analysis/minhash/MinHashFilter.java:46-240):
    word ``n``-shingles hashed once, RANGE-bucketed into ``bucket_count``
    buckets (bucketSize = maxHash/bucketCount + 1, bucket = hash/bucketSize
    — :163-170), keeping the ``hash_set_size`` smallest DISTINCT hashes
    per bucket (FixedSizeTreeSet, :59).  ``with_rotation`` fills each
    empty bucket with the first value of the next non-empty bucket,
    cyclically (:176-198) — the trick that keeps the signature length
    fixed for short fields.

    → (id, bucket, rank, minh): one row per kept hash, rank 0-based by
    hash asc within the bucket.  The hash is the md5-base60 JVM expression
    every dedup kernel here uses (the reference's 128-bit murmur swapped
    for a cross-engine-reproducible hash; structure and semantics equal).

    Plan shape: shingle + hash are whole-stage codegen; one hash-aggregate
    (distinct) and one window per (id, bucket) — at 100 TB this is the
    same single-shuffle shape as minhash_signatures; rotation is a per-doc
    array completion over at most ``bucket_count`` rows.
    """
    from pyspark.sql import Window

    grams = token_ngrams(docs, id_col, text_col, n)
    bucket_size = ((1 << 60) - 1) // bucket_count + 1
    hashed = (
        grams.withColumn("h", base60_expr("ngram"))
        # integer DIV, not double /: hashes exceed double's 53-bit mantissa
        .withColumn("bucket", F.expr(f"h DIV {bucket_size}"))
        .select(id_col, "bucket", "h")
        .distinct()
    )
    w = Window.partitionBy(id_col, "bucket").orderBy("h")
    kept = (
        hashed.withColumn("rank", F.row_number().over(w) - 1)
        .filter(F.col("rank") < hash_set_size)
        .select(id_col, "bucket", "rank", F.col("h").alias("minh"))
    )
    if not with_rotation:
        return kept
    bc = bucket_count

    def rotate(pdf: pd.DataFrame) -> pd.DataFrame:
        filled = {}
        for r in pdf.itertuples():
            filled.setdefault(int(r.bucket), []).append((int(r.rank), int(r.minh)))
        nonempty = sorted(filled)
        rows = []
        did = pdf[id_col].iloc[0]
        for b in range(bc):
            if b in filled:
                for rk, mh in sorted(filled[b]):
                    rows.append((did, b, rk, mh))
            elif nonempty:
                # first value of the next non-empty bucket, cyclically
                import bisect
                i = bisect.bisect_left(nonempty, b)
                src = nonempty[i % len(nonempty)]
                rows.append((did, b, 0, min(mh for _, mh in filled[src])))
        return pd.DataFrame(
            rows, columns=[id_col, "bucket", "rank", "minh"])

    return kept.groupBy(id_col).applyInPandas(
        rotate, schema=f"{id_col} long, bucket long, rank int, minh long")


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    stride: int = 128,
) -> DataFrame:
    """Split documents into fixed-token training windows — the context-
    window chunking step of an LLM data pipeline (docs → examples).

    ``chunk_tokens`` per chunk, windows starting every ``stride`` tokens
    (stride < chunk_tokens = overlapping windows); the final partial
    window is kept iff it is the document's ONLY window (short docs are
    one short example; trailing partials of long docs are dropped, the
    common drop-remainder convention).

    → (id, chunk_id, chunk_text, n_tokens), chunk_id 0-based.

    Pure Catalyst: split + sequence + slice + concat_ws, whole-stage
    codegen, no shuffle — at 100 TB this is a map-only pass that parquet
    scans stream through.
    """
    toks = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("t"))
    c, s = int(chunk_tokens), int(stride)
    starts = (
        f"CASE WHEN size(t) <= {c} THEN array(0) "
        f"ELSE sequence(0, size(t) - {c}, {s}) END"
    )
    return (
        toks.select(
            F.col(id_col),
            F.posexplode(F.expr(starts)).alias("chunk_id", "start"),
        )
        .join(toks, id_col)
        .select(
            id_col,
            "chunk_id",
            F.expr(f"concat_ws(' ', slice(t, start + 1, {c}))").alias("chunk_text"),
            F.expr(f"least(size(t) - start, {c})").cast("long").alias("n_tokens"),
        )
    )


def substring_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 64,
    max_window_df: int | None = None,
) -> DataFrame:
    """Exact shared-substring pair detection — the exact-substring dedup
    criterion (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better") at window granularity: docs a < b pair iff
    they share ANY ``k``-character substring, with (a, b, n_shared) the
    count of distinct shared windows.  EXACT: windows are hashed at EVERY
    character offset, so any common substring of length >= k is detected
    (an aligned k-window exists at every offset of it).

    Scale shape: windowing + md5-base60 hashing are whole-stage codegen;
    only DISTINCT (hash, id) pairs reach the join shuffle (~n_chars rows
    per doc pre-distinct — the price of the exact criterion; the suffix-
    array pipelines of the paper trade exactness setup cost the same
    way).  ``max_window_df`` is the stop-window guard: windows appearing
    in more than that many docs (boilerplate) generate no candidates,
    bounding any single join key's fan-out exactly as
    :func:`ngram_jaccard_pairs`'s shingle guard does.
    """
    kk = int(k)
    grams = (
        docs.select(
            F.col(id_col),
            F.explode(F.expr(
                f"CASE WHEN length({text_col}) >= {kk} THEN "
                f"transform(sequence(1, length({text_col}) - {kk} + 1), "
                f"i -> substring({text_col}, i, {kk})) "
                f"ELSE array() END")).alias("w"))
        .select(id_col, base60_expr("w").alias("h"))
        .distinct()
    )
    if max_window_df is not None:
        keep = (grams.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") <= int(max_window_df)).select("h"))
        grams = grams.join(keep, "h", "left_semi")
    a = grams.select(F.col(id_col).alias("a"), "h")
    b = grams.select(F.col(id_col).alias("b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def _winnow_select(h: "np.ndarray", w: int, robust: bool) -> "np.ndarray":
    """Window-minimum selection over a per-offset hash array ``h`` —
    standard winnowing (rightmost minimum per window) or robust winnowing
    (on ties, keep the PREVIOUS window's selection while it remains
    minimal and in-window; new selections take the rightmost minimum).
    Returns the sorted unique selected offsets.  Pure numpy on the
    already-hashed array; the hashes themselves come from the JVM."""
    n = len(h)
    if n <= w:
        # fewer hashes than one window: rightmost global minimum
        return np.flatnonzero(h == h.min())[-1:]
    win = np.lib.stride_tricks.sliding_window_view(h, w)
    # rightmost argmin per window, vectorized: argmin of the reversed
    # window gives the DISTANCE from the right edge
    r = np.arange(len(win)) + (w - 1) - np.argmin(win[:, ::-1], axis=1)
    if not robust:
        return np.unique(r)
    mins = h[r]
    ties = mins[1:] == mins[:-1]
    if not ties.any():
        # no equal adjacent window minima → the previous selection is
        # never re-selectable on a tie; robust == standard here
        return np.unique(r)
    # sequential correction, only reachable through equal-min runs: keep
    # the previous selection while it is still in-window AND still equal
    # to the window minimum (by induction h[prev] == mins[s-1], so the
    # check reduces to mins[s] == mins[s-1] and prev >= s)
    sel = [int(r[0])]
    prev = int(r[0])
    for s in range(1, len(win)):
        if prev >= s and mins[s] == mins[s - 1]:
            continue
        prev = int(r[s])
        sel.append(prev)
    return np.unique(sel)


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    window: int = 8,
    robust: bool = False,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson, Aiken — "Winnowing:
    Local Algorithms for Document Fingerprinting", SIGMOD'03, the MOSS
    algorithm): hash every ``k``-gram (character window), then in every
    window of ``window`` consecutive hashes select the MINIMUM — the
    selected (offset, hash) set is the doc's fingerprint.  Guarantee
    (Thm. in the paper): any shared substring of length >= window + k - 1
    produces a shared fingerprint, while storage drops to ~2/(window+1)
    of the k-gram stream.

    ``robust=False`` (default) is STANDARD winnowing with rightmost
    tie-break; ``robust=True`` is the paper's robust winnowing — on a tie
    the previous window's selection is re-selected while still minimal,
    so equal-hash runs contribute fewer fingerprints (the two differ ONLY
    on equal adjacent window minima, i.e. repeated k-grams within one
    window).

    → (id, off, h): 0-based k-gram offset + md5-base60 hash of each
    selected fingerprint.  Scale shape: the per-offset k-gram hashing is
    a JVM whole-stage-codegen expression (``transform(sequence(...))``
    over md5-base60, the :func:`substring_dup_pairs` pattern) — NO
    interpreted per-character Python; only the windowed minimum selection
    runs Python-side, vectorized numpy over the Arrow-delivered int64
    hash array, one pass, no shuffle.  Pair detection is then the same
    hash join as :func:`substring_dup_pairs` over ~window-times fewer
    rows."""
    kk, w = int(k), int(window)
    harr = (
        f"CASE WHEN length({text_col}) >= {kk} THEN "
        f"transform(sequence(1, length({text_col}) - {kk} + 1), "
        f"i -> CAST(conv(substring(md5(substring({text_col}, i, {kk})), "
        f"1, 15), 16, 10) AS BIGINT)) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    hashed = docs.select(F.col(id_col), F.expr(harr).alias("harr"))

    def run(batches):
        for pdf in batches:
            ids, offs, hs = [], [], []
            for did, hv in zip(pdf[id_col], pdf["harr"]):
                h = np.asarray(hv, dtype=np.int64)
                if len(h) == 0:
                    continue
                sel = _winnow_select(h, w, robust)
                ids.extend([int(did)] * len(sel))
                offs.extend(int(o) for o in sel)
                hs.extend(int(x) for x in h[sel])
            yield pd.DataFrame({id_col: ids, "off": offs, "h": hs})

    return hashed.mapInPandas(run, schema=f"{id_col} long, off int, h long")


def bpe_train(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", num_merges: int = 10,
              min_pair_count: int = 2,
              end_of_word: str = "</w>") -> list[tuple[str, str, int]]:
    """Byte-pair-encoding merge training (Sennrich, Haddow & Birch,
    ACL 2016, Algorithm 1) as a distributed pipeline op: learn the top
    ``num_merges`` merge rules from a corpus.

    Scale shape — the one decision that matters at 100 TB: the corpus is
    reduced ONCE to a word-frequency table (one corpus-sized shuffle on the
    word hash); every merge round after that operates on the
    vocabulary-sized table only (pair counts via a Catalyst
    transform+explode+sum, argmax = one orderBy().limit(1) row to the
    driver, merge application = one Arrow batch pass rewriting the symbol
    arrays).  Rounds never touch the corpus again, and the vocab table is
    re-persisted per round so the plan doesn't grow with the merge count.

    Semantics: words are lowercase letter runs; each word starts as its
    character sequence plus a terminal ``end_of_word`` symbol; pair counts
    weight by word frequency and count overlapping occurrences per
    position (zip(s, s[1:]) — exactly the paper's get_stats); merge
    application is greedy left-to-right, non-overlapping.  Ties break
    deterministically: highest count, then lexicographically smallest
    (left, right).

    Returns the learned merge list [(left, right, pair_count), ...] in
    rank order — driver-sized by construction (``num_merges`` entries).
    """
    words = (
        docs.select(F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)),
                                 F.lit(r"[\p{L}]+"), 0)).alias("w"))
        .groupBy("w").agg(F.count("*").alias("freq"))
    )
    vocab = words.select(
        F.concat(F.split(F.col("w"), ""),
                 F.array(F.lit(end_of_word))).alias("syms"),
        "freq",
    ).persist()
    vocab.count()  # materialize before the loop

    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        best = (
            vocab.select(
                F.explode(F.expr(
                    # sequence(0, -1) is a DESCENDING sequence in Spark,
                    # not empty — fully-merged single-symbol words must
                    # short-circuit to an empty pair array
                    "CASE WHEN size(syms) < 2 THEN "
                    "array() "
                    "ELSE transform(sequence(0, size(syms) - 2), "
                    "i -> struct(syms[i] AS l, syms[i + 1] AS r)) END"
                )).alias("p"), "freq")
            .groupBy("p.l", "p.r").agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), "l", "r")
            .limit(1).collect()
        )
        if not best or best[0]["n"] < min_pair_count:
            break
        left, right, n = best[0]["l"], best[0]["r"], int(best[0]["n"])
        merges.append((left, right, n))

        def apply_merge(batches, _l=left, _r=right):
            for pdf in batches:
                out = []
                for syms in pdf["syms"]:
                    s = list(syms)
                    i, res = 0, []
                    while i < len(s):
                        if (i + 1 < len(s) and s[i] == _l
                                and s[i + 1] == _r):
                            res.append(_l + _r)
                            i += 2
                        else:
                            res.append(s[i])
                            i += 1
                    out.append(res)
                yield pd.DataFrame({"syms": out, "freq": pdf["freq"]})

        new_vocab = vocab.mapInPandas(
            apply_merge, schema="syms array<string>, freq long").persist()
        new_vocab.count()
        vocab.unpersist()
        vocab = new_vocab
    vocab.unpersist()
    return merges


def bpe_merges_df(spark, docs: DataFrame, **kw) -> DataFrame:
    """DataFrame wrapper over :func:`bpe_train` for the gate surface:
    (rank, left, right, pair_count)."""
    merges = bpe_train(docs, **kw)
    rows = [(i, l, r, n) for i, (l, r, n) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank int, left string, right string, pair_count long")


def bpe_encode(docs: DataFrame, merges: list[tuple[str, str, int]] | list[tuple[str, str]],
               id_col: str = "doc_id", text_col: str = "text",
               end_of_word: str = "</w>") -> DataFrame:
    """Apply learned BPE merges (from :func:`bpe_train`) to a corpus →
    (id, tokens, n_tokens).  Encoding follows the standard inference rule:
    repeatedly merge the pair with the LOWEST merge rank present in the
    word until none applies (Sennrich ACL'16 §3; the ordered-merge
    application every BPE tokenizer uses).

    Scale shape: the merge table is tiny (vocab-sized rank dict) and ships
    inside the Arrow UDF closure — a broadcast by construction; encoding
    is one mapInPandas pass over the corpus with a per-batch memo cache
    keyed on word (Zipf makes the cache hit rate the dominant term), no
    shuffle at all.
    """
    ranks = {(l, r): i for i, (l, r, *_) in enumerate(merges)}

    def encode_word(w: str, memo: dict) -> list[str]:
        got = memo.get(w)
        if got is not None:
            return got
        syms = list(w) + [end_of_word]
        while len(syms) > 1:
            best_i, best_rank = -1, len(ranks)
            for i in range(len(syms) - 1):
                rk = ranks.get((syms[i], syms[i + 1]), len(ranks))
                if rk < best_rank:
                    best_i, best_rank = i, rk
            if best_i < 0:
                break
            syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        memo[w] = syms
        return syms

    word_re = re.compile(r"[^\W\d_]+", re.UNICODE)

    def run(batches):
        memo: dict = {}
        for pdf in batches:
            toks, counts = [], []
            for text in pdf[text_col]:
                t = text if isinstance(text, str) else ""
                out: list[str] = []
                for w in word_re.findall(t.lower()):
                    out.extend(encode_word(w, memo))
                toks.append(out)
                counts.append(len(out))
            yield pd.DataFrame({id_col: pdf[id_col], "tokens": toks,
                                "n_tokens": counts})

    return docs.select(id_col, text_col).mapInPandas(
        run, schema=f"{id_col} long, tokens array<string>, n_tokens int")
