"""Distributed inverted-index build — idiomatic PySpark.

Dataflow (reference analog: lucene/core/.../index/IndexingChain.java:583-660 →
FreqProxTermsWriter.java:82-137 flush → SegmentMerger.java:103-136 merge):

  pages ──repartitionByRange(url)──▶ deterministic global docIDs
        ──pandas UDF analyze──▶ tokens, dl, norm
        ──partition-local pandas groupby──▶ (term, docid, tf)   (the invert)
        ──groupBy(term, seg) applyInPandas──▶ compressed posting rows
        ──postings rollup──▶ termdict (df, cf)
        ──agg──▶ stats (docCount, sumTotalTermFreq)

Segments are *docID ranges*: seg = docid // seg_size.  This plays the role of
Lucene's per-DWPT segments (SegmentInfos.java:113) and simultaneously solves
head-term skew: a term occurring in every document contributes at most
seg_size postings per (term, seg) row, so no groupBy key can explode — the
explicit salting the north rule asks for, with ranges instead of hashes so
sub-lists concatenate in docID order with no re-merge.

Postings within a row use segment-local docIDs (docid - seg*seg_size), so
delta gaps fit 32 bits regardless of corpus size, mirroring Lucene's
segment-local docIDs + docBase remapping (index/DocIDMerger.java:32).

Scale notes (100 TB / 1000 executors):
  - exactly ONE wide shuffle in the whole build — groupBy(term, seg) for the
    segment rows — moving deduplicated (term, docid, tf) tuples; the invert
    itself is partition-local (each doc lives in one partition);
  - groupBy(term, seg) keys are high-cardinality and bounded-skew by the
    docID-range segmentation;
  - AQE enabled callers get runtime coalescing; partition counts derived from
    input size;
  - the build is resumable per segment (north rule): `build_or_resume` skips
    segments already recorded in the lineage table.

Reader-side bound: ``Index.term_stats`` holds the WHOLE vocabulary on the
driver, about 80 bytes per term on CPython 3.11 (the term ``str`` objects
dominate; df/cf add 16 B).  Measured on a 4-core host, 1M ten-character
terms raise the driver's RSS by 95 MB (peak 104 MB) and load in ~0.6 s, so
10M terms would take ~1 GB.  Every new handle pays that load on its first
exact-term lookup.  A multi-field index counts every ``field:term`` as its
own entry.  Past ~10M terms the snapshot is the wrong design: global df
should be summed from the ``df_local`` rows the postings scan already reads.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .analysis import ENGLISH_STOP_WORDS, make_analyze_udf
from .codecs import BLOCK_SIZE, encode_positions, encode_postings
from .impacts import block_frontiers
from .smallfloat import int_to_byte4_np

POSTINGS_SCHEMA = (
    "term string, seg long, df_local long, cf_local long, nblocks long, n_tail long, "
    "doc_blob binary, freq_blob binary, dl_blob binary, tail_blob binary, pos_blob binary, "
    "block_last_docid array<long>, "
    "imp_freqs array<long>, imp_dls array<long>, imp_offsets array<long>"
)

DOCS_SCHEMA_COLS = ["docid", "url", "dl", "norm"]


@dataclass(frozen=True)
class TermStats:
    """Driver-resident snapshot of the whole termdict: term → (df, cf).

    The reader-resident terms-dictionary analog that TermStates.build
    (index/TermStates.java:95) reads df/totalTermFreq from without a round
    trip per query.  Columnar: ``terms`` is a sorted object array, ``df`` and
    ``cf`` are int64 arrays aligned with it, and lookups binary-search with
    ``np.searchsorted``.  Loaded with one Arrow collect.  ``source`` is the
    termdict DataFrame the arrays were read from — the cache key
    ``Index.term_stats`` checks."""

    source: DataFrame
    terms: np.ndarray
    df: np.ndarray
    cf: np.ndarray

    @classmethod
    def load(cls, termdict: DataFrame) -> "TermStats":
        # Arrow end to end: the sort runs in Arrow's C++ kernel (UTF-8 byte
        # order == the code-point order np.searchsorted compares in)
        tab = termdict.select("term", "df", "cf").toArrow().sort_by("term")
        return cls(termdict,
                   np.asarray(tab.column("term").to_numpy(), dtype=object),
                   np.asarray(tab.column("df").to_numpy(), dtype=np.int64),
                   np.asarray(tab.column("cf").to_numpy(), dtype=np.int64))

    def lookup(self, terms) -> dict[str, tuple[int, int]]:
        """(df, cf) of each present term; absent terms are omitted."""
        q = np.array(sorted(set(terms)), dtype=object)
        if len(self.terms) == 0 or len(q) == 0:
            return {}
        pos = np.minimum(np.searchsorted(self.terms, q), len(self.terms) - 1)
        hit = self.terms[pos] == q
        pos = pos[hit]
        return dict(zip(q[hit].tolist(),
                        zip(self.df[pos].tolist(), self.cf[pos].tolist())))


@dataclass
class Index:
    """Handle over the index tables (in-memory DataFrames or parquet-backed).

    ``norms`` is the per-segment packed doc-length blob — the
    Lucene90NormsFormat analog (codecs/lucene90/Lucene90NormsFormat.java:31-83;
    Lucene stores 1 quantized byte/doc, we store exact uint32 lengths so both
    precision modes decode from one artifact): one row per segment,
    dl_blob = uint32[n_docs_in_seg] little-endian.
    """

    docs: DataFrame
    postings: DataFrame
    termdict: DataFrame
    norms: DataFrame
    doc_count: int
    sum_total_term_freq: int
    seg_size: int
    tombstones: DataFrame | None = None  # LiveDocs analog: deleted docids
    pulsed: DataFrame | None = None  # singleton-pulsing sidecar (pulsing.py)
    rterms: DataFrame | None = None  # reversed-term sidecar (leading wildcards)
    # multi-field: {field: (docCount, sumTotalTermFreq)} for NON-default
    # fields, whose terms live in the shared postings table as "field:term"
    # (Lucene terms are (field, term) pairs in one dictionary ordered by
    # field then term — index/Term.java:30; per-field CollectionStatistics
    # via IndexSearcher.collectionStatistics, search/IndexSearcher.java:395)
    field_stats: dict | None = None
    # multi-field: {field: DataFrame(docid, dl)} per NON-default field —
    # the per-field norms channel (Lucene stores one norm per (field, doc);
    # the default field's dl lives in ``docs``); needed by cross-field
    # scorers that combine ALL fields' norms per doc (CombinedFieldQuery's
    # MultiNormsLeafSimScorer)
    field_docs: dict | None = None
    # df-sketch head terms used by the build's salted encode shuffle
    # (estimate_head_terms / balanced_bin_expr) — kept so benches and
    # diagnostics can reproduce the build's ACTUAL bin assignment
    head_terms: list | None = None
    _term_stats: TermStats | None = field(
        default=None, init=False, repr=False, compare=False)

    @property
    def avgdl(self) -> float:
        return self.sum_total_term_freq / float(self.doc_count)

    def term_stats(self) -> TermStats:
        """The term-statistics snapshot, loaded by one collect on first use
        (never by ``build_index``, which would force the postings encode) and
        reloaded whenever ``termdict`` is no longer the DataFrame it was
        read from, so a handle never serves stale stats.

        It costs the driver ~80 bytes per vocabulary term (module docstring),
        so it suits vocabularies up to ~10M terms.  The first query on a new
        handle (``read_index``, ``refresh_reader``, ``add_indexes``) pays the
        whole-vocabulary collect, so the saving needs several queries per
        handle once the vocabulary is large.  ``delete_docs`` and
        ``add_reversed_terms`` hand the snapshot on: the termdict is shared."""
        ts = self._term_stats
        if ts is None or ts.source is not self.termdict:
            ts = self._term_stats = TermStats.load(self.termdict)
        return ts

    def delete_docs(self, docids: DataFrame) -> "Index":
        """Mark documents deleted — the tombstone-bitset model
        (codecs/lucene90/Lucene90LiveDocsFormat.java; index/BufferedUpdates):
        postings are immutable, deletes are applied at READ time (search and
        search_many mask them out), persisted by ``write_index`` as a fifth
        table (the liveDocs .liv file analog), and physically dropped by
        ``streaming.compact_index`` (SegmentMerger.java:103-136 drops deletes
        at merge).  Collection statistics intentionally keep counting deleted
        docs until merge, exactly like Lucene (docFreq/docCount include
        deleted docs until the segment is rewritten).

        ``docids``: DataFrame with a ``docid`` column.  Returns a new handle
        sharing the index tables and the term-statistics snapshot.
        """
        t = docids.select("docid")
        if self.tombstones is not None:
            t = self.tombstones.union(t).distinct()
        live = Index(
            docs=self.docs, postings=self.postings, termdict=self.termdict,
            norms=self.norms, doc_count=self.doc_count,
            sum_total_term_freq=self.sum_total_term_freq,
            seg_size=self.seg_size, tombstones=t, pulsed=self.pulsed,
            rterms=self.rterms, field_stats=self.field_stats,
        )
        live._term_stats = self._term_stats
        return live

    def write_tombstones(self, out_dir: str) -> None:
        """Persist ONLY the liveDocs table into an existing index directory —
        the delete-only commit (Lucene writes just a new .liv file + SegmentInfos
        for buffered deletes; the immutable segment data is untouched)."""
        if self.tombstones is None:
            raise ValueError("index has no tombstones to persist")
        self.tombstones.select("docid").write.mode("overwrite").parquet(
            f"{out_dir}/tombstones"
        )


def _ranged_with_offsets(
    df: DataFrame, key_col: str, num_partitions: int, check_unique: bool = False
) -> tuple[DataFrame, list[int], int]:
    """Range-partition + sort by key; return (cached frame, per-partition
    docID base offsets, total row count).  The counts job is the only extra
    pass; with ``check_unique`` it also asserts key uniqueness for free:
    range partitioning co-locates equal keys and the partition sort makes
    duplicates ADJACENT, so a per-partition adjacency scan (no shuffle, no
    countDistinct) is an exact duplicate detector."""

    # __pid rides as a DATA column, stamped in the ranged frame's own stage:
    # downstream passes must not read TaskContext.partitionId(), because a
    # plan that embeds this frame under a union (add_indexes) re-numbers the
    # union's task partition ids while the cached/recomputed child partition
    # keeps its own — the data column is correct in both worlds.
    ranged = (
        df.repartitionByRange(num_partitions, F.col(key_col))
        .sortWithinPartitions(key_col)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )

    if check_unique:

        def stats(batches):
            pid = None
            n = 0
            dups = 0
            prev_last = None
            for pdf in batches:
                if pid is None and len(pdf):
                    pid = int(pdf["__pid"].iloc[0])
                k = pdf[key_col].to_numpy()
                n += len(k)
                if len(k):
                    dups += int((k[1:] == k[:-1]).sum())
                    if prev_last is not None and len(k) and k[0] == prev_last:
                        dups += 1
                    prev_last = k[-1]
            if pid is None:
                return
            yield pd.DataFrame({"pid": [pid], "count": [n], "dups": [dups]})

        counts = ranged.select(key_col, "__pid").mapInPandas(
            stats, schema="pid long, count long, dups long"
        ).collect()
        n_dups = sum(r["dups"] for r in counts)
        if n_dups:
            raise ValueError(
                f"key_col {key_col!r} must be unique for rank-assigned docids "
                f"({n_dups} duplicate keys); pass an explicit docid_col or "
                "deduplicate first"
            )
    else:
        counts = (
            ranged.select(F.col("__pid").alias("pid")).groupBy("pid").count().collect()
        )
    sizes = {r["pid"]: r["count"] for r in counts}
    max_pid = max(sizes) if sizes else -1
    offsets = np.zeros(max_pid + 2, dtype=np.int64)
    for pid in range(max_pid + 1):
        offsets[pid + 1] = offsets[pid] + sizes.get(pid, 0)
    return ranged, offsets.tolist(), int(offsets[-1])


def assign_docids(df: DataFrame, key_col: str = "url", num_partitions: int | None = None) -> DataFrame:
    """Deterministic dense docIDs: rank over global ``key_col`` order.

    Engine contract replacing Lucene's arrival-order docIDs
    (index/IndexingChain.java:583).  Scale-correct: range-partition + sort by
    key, count rows per partition, broadcast cumulative offsets, then assign
    offset+arange inside mapInPandas — no single-partition window, no collect
    of data rows.
    """
    num_partitions = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged, offs, _ = _ranged_with_offsets(df, key_col, num_partitions)

    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields] + ["docid long"]
    )

    def add_ids(iterator):
        base = None
        seen = 0
        for pdf in iterator:
            if base is None and len(pdf):
                base = offs[int(pdf["__pid"].iloc[0])]
            pdf = pdf.drop(columns=["__pid"])
            pdf["docid"] = np.arange(base + seen, base + seen + len(pdf), dtype=np.int64)
            seen += len(pdf)
            yield pdf

    return ranged.mapInPandas(add_ids, schema=schema)


# --- fused build passes ----------------------------------------------------------
#
# The build runs exactly two narrow passes over the (cached, slimmed) input —
# one emitting per-doc metadata, one emitting packed partial posting lists —
# instead of materializing/caching token arrays: caching array<string> columns
# in Spark's columnar cache costs more than re-running the C-regex analyzer
# (measured 27s cache vs ~3s re-analysis for 50k docs), and at 100 TB a
# token-array cache would not fit anywhere.
#
# The invert pass emits PACKED partials — one row per (term, seg) per Arrow
# batch, with docids/tfs/dls as int32 binary buffers — the DWPT flush analog
# (FreqProxTermsWriter.java:82-137: each writer thread flushes its own sorted
# mini posting lists, the merge concatenates).  Versus one row per posting,
# this cuts the wide shuffle from ~40 B/posting of row overhead to ~9 B of
# array payload and makes the shuffle row count ~vocabulary-sized instead of
# ~token-sized: the difference between shuffling 8.4 M rows and ~300 K rows
# at 200 K docs, and the difference that matters at 10^12 docs.

PARTIALS_SCHEMA = (
    "term string, seg long, n long, "
    "doc_chunk binary, tf_chunk binary, dl_chunk binary, pos_chunk binary"
)


def _docs_meta_pass(offs: list[int] | None, text_col: str, key_col: str, stopwords):
    """mapInPandas body: (text, key[, docid]) → (docid, url, dl, norm)."""
    from .analysis import analyze

    def run(batches):
        pid_base = None
        seen = 0
        for pdf in batches:
            if offs is None:
                ids = pdf["docid"].to_numpy(dtype=np.int64)
            else:
                if pid_base is None and len(pdf):
                    pid_base = offs[int(pdf["__pid"].iloc[0])]
                ids = np.arange(pid_base + seen, pid_base + seen + len(pdf), dtype=np.int64)
                seen += len(pdf)
            dl = np.fromiter(
                (len(analyze(t if isinstance(t, str) else "", stopwords)) for t in pdf[text_col]),
                dtype=np.int64,
                count=len(pdf),
            )
            yield pd.DataFrame(
                {
                    "docid": ids,
                    "url": pdf[key_col].to_numpy(),
                    "dl": dl,
                    "norm": int_to_byte4_np(dl).astype(np.int32),
                }
            )

    return run


def _fused_invert_pass(
    offs: list[int] | None, text_col: str, seg_size: int, stopwords, with_positions: bool
):
    """mapInPandas body: (text[, docid]) → PACKED partial posting lists
    (PARTIALS_SCHEMA) — analysis + partition-local invert + mini-flush in ONE
    Arrow pass (IndexingChain.processDocument + TermsHashPerField accumulation
    + FreqProxTermsWriter flush, IndexingChain.java:1120-1217,
    FreqProxTermsWriter.java:82-137, fused the way a DWPT fuses them).

    Each emitted chunk is internally sorted by docid; chunks of one (term,
    seg) from different batches/partitions cover disjoint docid sets, so the
    merge stage concatenates (and only re-sorts if ranges interleave —
    impossible under rank-assigned docids, possible with caller docids).
    """
    from .analysis import analyze, analyze_with_positions

    def run(batches):
        pid_base = None
        seen = 0
        for pdf in batches:
            if offs is None:
                ids = pdf["docid"].to_numpy(dtype=np.int64)
            else:
                if pid_base is None and len(pdf):
                    pid_base = offs[int(pdf["__pid"].iloc[0])]
                ids = np.arange(pid_base + seen, pid_base + seen + len(pdf), dtype=np.int64)
                seen += len(pdf)
            texts = pdf[text_col]
            if with_positions:
                pairs = [
                    analyze_with_positions(t if isinstance(t, str) else "", stopwords)
                    for t in texts
                ]
                tok_lists = [p[0] for p in pairs]
            else:
                tok_lists = [
                    analyze(t if isinstance(t, str) else "", stopwords) for t in texts
                ]
            n = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists))
            total = int(n.sum())
            if total == 0:
                continue
            terms = np.empty(total, dtype=object)
            o = 0
            for t in tok_lists:
                terms[o : o + len(t)] = t
                o += len(t)
            docid_flat = np.repeat(ids, n)
            dl_flat = np.repeat(n, n)
            if with_positions:
                pos_flat = np.empty(total, dtype=np.int64)
                o = 0
                for _, p in pairs:
                    pos_flat[o : o + len(p)] = p
                    o += len(p)

            # stable sort by (term, docid): grouping + docid order + (for
            # positions) ascending positions per posting, all in one pass
            order = np.lexsort((docid_flat, terms))
            t_s, d_s = terms[order], docid_flat[order]
            dl_s = dl_flat[order]
            newp = np.ones(total, dtype=bool)
            newp[1:] = (t_s[1:] != t_s[:-1]) | (d_s[1:] != d_s[:-1])
            pstarts = np.flatnonzero(newp)
            tf = np.diff(np.append(pstarts, total))
            t_p, d_p, dl_p = t_s[pstarts], d_s[pstarts], dl_s[pstarts]
            seg_p = d_p // seg_size
            local_p = (d_p - seg_p * seg_size).astype(np.int32)
            tf32 = tf.astype(np.int32)
            dl32 = dl_p.astype(np.int32)
            # (term, seg) chunk boundaries over the posting-level arrays
            newg = np.ones(len(pstarts), dtype=bool)
            newg[1:] = (t_p[1:] != t_p[:-1]) | (seg_p[1:] != seg_p[:-1])
            gstarts = np.flatnonzero(newg)
            gends = np.append(gstarts[1:], len(pstarts))
            if with_positions:
                p_s32 = pos_flat[order].astype(np.int32)
                flat_bounds = np.append(pstarts, total)
            cols = {"term": t_p[gstarts], "seg": seg_p[gstarts],
                    "n": (gends - gstarts).astype(np.int64),
                    "doc_chunk": [], "tf_chunk": [], "dl_chunk": [], "pos_chunk": []}
            for gs, ge in zip(gstarts.tolist(), gends.tolist()):
                cols["doc_chunk"].append(local_p[gs:ge].tobytes())
                cols["tf_chunk"].append(tf32[gs:ge].tobytes())
                cols["dl_chunk"].append(dl32[gs:ge].tobytes())
                cols["pos_chunk"].append(
                    p_s32[flat_bounds[gs] : flat_bounds[ge]].tobytes()
                    if with_positions else b""
                )
            yield pd.DataFrame(cols)

    return run


def _vint_lens(v: np.ndarray) -> np.ndarray:
    """Per-value LEB128 byte length (mirrors codecs.write_vints grouping)."""
    nb = np.ones(len(v), dtype=np.int64)
    for j in range(1, 10):
        nb += (v >= (np.uint64(1) << np.uint64(7 * j))).astype(np.int64)
    return nb


def _encode_tail_groups_vec(rows, gcounts, terms, segs, docc, tfc, dlc, posc, cols) -> None:
    """Vectorized tail-only encoding of MANY single-chunk groups at once.

    Produces byte-identical output to codecs.encode_postings' tail path
    (interleaved docDelta<<1|is_one varints + freq varints, then dl varints)
    by running the varint writer over the concatenation of every group's
    value stream and slicing per group at computed byte offsets.  Impact
    frontiers (impacts.frontier) vectorize with the group-offset cummax
    trick.  Asserted equal to the scalar path by tests/test_codecs.py and
    the full oracle gate."""
    from .codecs import write_vints
    from .impacts import frontier  # noqa: F401  (semantics reference)

    row_lens = np.array([len(docc[j]) // 4 for j in rows], dtype=np.int64)
    gcounts = np.asarray(gcounts, dtype=np.int64)
    ngroups = len(gcounts)
    # rows arrive grouped (and docid-ordered within group); group posting
    # length = sum of its chunk lengths
    gends_rows = np.cumsum(gcounts)
    lens = np.add.reduceat(row_lens, gends_rows - gcounts)
    first_rows = [rows[int(i)] for i in (gends_rows - gcounts)]
    go = np.cumsum(lens) - lens  # group start offsets into the flat arrays
    d = np.frombuffer(b"".join(docc[j] for j in rows), dtype=np.int32).astype(np.int64)
    tf = np.frombuffer(b"".join(tfc[j] for j in rows), dtype=np.int32).astype(np.int64)
    dl = np.frombuffer(b"".join(dlc[j] for j in rows), dtype=np.int32).astype(np.int64)
    gid = np.repeat(np.arange(ngroups, dtype=np.int64), lens)

    # docid deltas with per-group reset (first delta = docid - (-1))
    delta = d.copy()
    delta[1:] -= d[:-1]
    delta[go] = d[go] + 1

    # interleaved tail stream: (delta<<1 | freq==1) [, freq if > 1]
    is_one = tf == 1
    codes = (delta.astype(np.uint64) << np.uint64(1)) | is_one.astype(np.uint64)
    step = 2 - is_one.astype(np.int64)
    vpos = np.cumsum(step) - step
    vals = np.empty(int(step.sum()), dtype=np.uint64)
    vals[vpos] = codes
    vals[vpos[~is_one] + 1] = tf[~is_one].astype(np.uint64)
    vals_bytes = write_vints(vals)
    dl_bytes = write_vints(dl.astype(np.uint64))

    # positions channel (same global-stream trick): per-posting delta reset,
    # one varint stream, sliced per group at byte offsets — byte-identical
    # to codecs.encode_positions run per group
    has_pos = any(len(posc[j]) for j in rows)
    if has_pos:
        pos = np.frombuffer(
            b"".join(posc[j] for j in rows), dtype=np.int32
        ).astype(np.int64)
        pstarts = np.cumsum(tf) - tf
        pdeltas = np.diff(pos, prepend=0)
        pdeltas[pstarts] = pos[pstarts]
        pdeltas_u = pdeltas.astype(np.uint64)
        pos_bytes = write_vints(pdeltas_u)
        pbyte_off = np.zeros(len(pos) + 1, dtype=np.int64)
        np.cumsum(_vint_lens(pdeltas_u), out=pbyte_off[1:])
        gpos = np.zeros(ngroups + 1, dtype=np.int64)
        np.cumsum(np.add.reduceat(tf, go), out=gpos[1:])
        pb = pbyte_off[gpos]

    # per-group byte ranges in the two global varint streams
    vlen = _vint_lens(vals)
    vbyte_off = np.zeros(len(vals) + 1, dtype=np.int64)
    np.cumsum(vlen, out=vbyte_off[1:])
    dlen = _vint_lens(dl.astype(np.uint64))
    dbyte_off = np.zeros(len(dl) + 1, dtype=np.int64)
    np.cumsum(dlen, out=dbyte_off[1:])
    # value-index boundaries per group in the interleaved stream
    gvo = np.append(vpos[go], len(vals))
    vb = vbyte_off[gvo]
    db = dbyte_off[np.append(go, len(dl))]

    # impact frontier per (single tail block) group, vectorized:
    # sort within group by (norm asc, freq desc), keep first per norm, then
    # keep only strictly-increasing freq — per-group cummax via offset trick
    order = np.lexsort((-tf, dl, gid))
    g_s, f_s, n_s = gid[order], tf[order], dl[order]
    first = np.ones(len(f_s), dtype=bool)
    first[1:] = (n_s[1:] != n_s[:-1]) | (g_s[1:] != g_s[:-1])
    g_f, f_f, n_f = g_s[first], f_s[first], n_s[first]
    OFF = np.int64(1) << np.int64(40)
    rm = np.maximum.accumulate(f_f + g_f * OFF) - g_f * OFF
    keep = np.ones(len(f_f), dtype=bool)
    keep[1:] = (f_f[1:] > rm[:-1]) | (g_f[1:] != g_f[:-1])
    g_k, f_k, n_k = g_f[keep], f_f[keep], n_f[keep]
    kcounts = np.zeros(ngroups, dtype=np.int64)
    np.add.at(kcounts, g_k, 1)
    ko = np.zeros(ngroups + 1, dtype=np.int64)
    np.cumsum(kcounts, out=ko[1:])
    fk_l, nk_l = f_k.tolist(), n_k.tolist()

    cf = np.add.reduceat(tf, go) if len(tf) else np.empty(0, dtype=np.int64)
    cols["term"].extend(terms[first_rows])
    cols["seg"].extend(int(x) for x in segs[first_rows])
    cols["df_local"].extend(lens.tolist())
    cols["cf_local"].extend(cf.tolist())
    cols["nblocks"].extend([0] * ngroups)
    cols["n_tail"].extend(lens.tolist())
    cols["doc_blob"].extend([b""] * ngroups)
    cols["freq_blob"].extend([b""] * ngroups)
    cols["dl_blob"].extend([b""] * ngroups)
    cols["tail_blob"].extend(
        vals_bytes[vb[i]: vb[i + 1]] + dl_bytes[db[i]: db[i + 1]]
        for i in range(ngroups)
    )
    cols["pos_blob"].extend(
        (pos_bytes[pb[i]: pb[i + 1]] for i in range(ngroups)) if has_pos
        else [b""] * ngroups
    )
    cols["block_last_docid"].extend([[]] * ngroups)
    cols["imp_freqs"].extend(fk_l[ko[i]: ko[i + 1]] for i in range(ngroups))
    cols["imp_dls"].extend(nk_l[ko[i]: ko[i + 1]] for i in range(ngroups))
    cols["imp_offsets"].extend([0, int(c)] for c in kcounts)


def _merge_partials(seg_size: int):
    """mapInPandas body over (term, seg)-sorted packed partials: concatenate
    each group's chunks (already docid-sorted and disjoint) and run the block
    codec — the SegmentMerger analog (SegmentMerger.java:103-136) where
    Spark's sort-based exchange did the k-way term merge."""

    def encode(pdf: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
        terms = pdf["term"].to_numpy()
        segs = pdf["seg"].to_numpy(dtype=np.int64)
        docc = pdf["doc_chunk"].to_numpy()
        tfc = pdf["tf_chunk"].to_numpy()
        dlc = pdf["dl_chunk"].to_numpy()
        posc = pdf["pos_chunk"].to_numpy()
        bounds = np.append(starts, len(pdf))
        ns = pdf["n"].to_numpy(dtype=np.int64)
        cols: dict[str, list] = {
            "term": [], "seg": [], "df_local": [], "cf_local": [], "nblocks": [],
            "n_tail": [], "doc_blob": [], "freq_blob": [], "dl_blob": [],
            "tail_blob": [], "pos_blob": [], "block_last_docid": [], "imp_freqs": [],
            "imp_dls": [], "imp_offsets": [],
        }
        # fast path: single-chunk tail-only groups with no positions — the
        # overwhelming majority at web vocabularies (median df_local is tiny)
        # — encoded for ALL groups at once instead of ~400 µs of per-group
        # numpy-call overhead each (measured: this stage was 3.3 s of a
        # 7.4 s 50k-doc build before vectorization)
        fast_rows: list[int] = []
        fast_counts: list[int] = []
        slow_groups: list[int] = []
        for i in range(len(starts)):
            s, e = int(bounds[i]), int(bounds[i + 1])
            if int(ns[s:e].sum()) < BLOCK_SIZE:
                if e - s == 1:
                    fast_rows.append(s)
                else:
                    # chunk ranges are docid-disjoint; order by first docid
                    fast_rows.extend(sorted(
                        range(s, e),
                        key=lambda j: int.from_bytes(docc[j][:4], "little", signed=True),
                    ))
                fast_counts.append(e - s)
            else:
                slow_groups.append(i)
        if fast_rows:
            _encode_tail_groups_vec(
                fast_rows, fast_counts, terms, segs, docc, tfc, dlc, posc, cols
            )
        for i in slow_groups:
            s, e = int(bounds[i]), int(bounds[i + 1])
            chunks = list(range(s, e))
            if e - s > 1:
                # order chunks by first docid (chunks are disjoint ranges
                # under rank-assigned docids)
                chunks.sort(key=lambda j: np.frombuffer(docc[j][:4], dtype=np.int32)[0])
            docids = np.concatenate(
                [np.frombuffer(docc[j], dtype=np.int32) for j in chunks]
            ).astype(np.int64)
            tfs = np.concatenate(
                [np.frombuffer(tfc[j], dtype=np.int32) for j in chunks]
            ).astype(np.int64)
            dls = np.concatenate(
                [np.frombuffer(dlc[j], dtype=np.int32) for j in chunks]
            ).astype(np.int64)
            has_pos = len(posc[chunks[0]]) > 0
            if has_pos:
                pos = np.concatenate(
                    [np.frombuffer(posc[j], dtype=np.int32) for j in chunks]
                ).astype(np.int64)
            if e - s > 1 and np.any(np.diff(docids) <= 0):
                # caller-assigned docids may interleave partition ranges
                o = np.argsort(docids, kind="stable")
                if has_pos:
                    st = np.cumsum(tfs) - tfs
                    pos = np.concatenate(
                        [pos[st[j] : st[j] + tfs[j]] for j in o.tolist()]
                    )
                docids, tfs, dls = docids[o], tfs[o], dls[o]
            enc = encode_postings(docids, tfs, dls)
            imp_f, imp_dl, imp_off = block_frontiers(docids, tfs, dls, BLOCK_SIZE)
            cols["term"].append(terms[s])
            cols["seg"].append(int(segs[s]))
            cols["df_local"].append(len(docids))
            cols["cf_local"].append(int(tfs.sum()))
            cols["nblocks"].append(len(docids) // BLOCK_SIZE)
            cols["n_tail"].append(enc["n_tail"])
            cols["doc_blob"].append(enc["doc_blob"])
            cols["freq_blob"].append(enc["freq_blob"])
            cols["dl_blob"].append(enc["dl_blob"])
            cols["tail_blob"].append(enc["tail_blob"])
            cols["pos_blob"].append(encode_positions(pos, tfs) if has_pos else b"")
            cols["block_last_docid"].append(enc["block_last_docid"].tolist())
            cols["imp_freqs"].append(imp_f.tolist())
            cols["imp_dls"].append(imp_dl.tolist())
            cols["imp_offsets"].append(imp_off.tolist())
        return pd.DataFrame(cols)

    def run(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            starts = _group_starts(pdf)
            if len(starts) == 1:
                carry = pdf
                continue
            last = int(starts[-1])
            carry = pdf.iloc[last:].reset_index(drop=True)
            yield encode(pdf.iloc[:last], starts[:-1])
        if carry is not None and len(carry):
            yield encode(carry, _group_starts(carry))

    return run


# corpus size above which the df-sketch pre-pass + head-salted encode
# shuffle engages (below it, the sketch job's fixed cost exceeds any
# encode-straggler it could shave; the zipf skew bench at 400k and every
# web-scale build sit above)
HEAD_SALT_MIN_DOCS = 250_000

_SALT_CACHE: dict[int, list[int]] = {}


def _partition_salts(spark: SparkSession, parts: int) -> list[int]:
    """For each target bin b in [0, parts): an int s with
    pmod(murmur3(s), parts) == b under Spark's HashPartitioning (F.hash is
    the same Murmur3/seed-42 expression), so ``repartition(parts, "__bin")``
    with __bin = salts[b] lands a row EXACTLY in partition b.  Deterministic
    (fixed hash seed), so cached per ``parts`` across sessions; the search
    is one tiny driver-collected job over ``parts * 64`` candidate ints."""
    if parts in _SALT_CACHE:
        return _SALT_CACHE[parts]
    want = parts
    salts: dict[int, int] = {}
    lo = 0
    while len(salts) < want:
        rows = (
            spark.range(lo, lo + parts * 64)
            .select(
                F.col("id").cast("int").alias("s"),
                F.pmod(F.hash(F.col("id").cast("int")), F.lit(parts)).alias("b"),
            )
            .collect()
        )
        for r in rows:
            salts.setdefault(int(r["b"]), int(r["s"]))
        lo += parts * 64
    out = [salts[b] for b in range(parts)]
    _SALT_CACHE[parts] = out
    return out


def estimate_head_terms(
    base: DataFrame,
    text_col: str,
    stopwords,
    doc_count: int,
    n_heads: int = 64,
    min_df_frac: float = 0.05,
    target_sample: int = 8_000,
    seed: int = 7,
) -> list[str]:
    """df-sketch pre-pass (SURVEY §7 'head-term salting by df estimate'):
    analyze a small deterministic sample of the corpus and return the terms
    whose estimated doc-frequency fraction is large enough that their
    (term, seg) encode groups approach seg_size rows — the groups whose
    random hash placement drives encode-stage bin variance.  Cost: one
    narrow job tokenizing ~``target_sample`` docs (the sample filter runs
    BEFORE the analyze UDF, so only sampled rows are analyzed); output is a
    ≤ ``n_heads`` driver-side list, bounded at any corpus scale."""
    if doc_count <= 0:
        return []
    fraction = min(1.0, max(target_sample / float(doc_count), 1e-6))
    analyze_udf = make_analyze_udf(stopwords)
    sample = base.select(text_col).sample(fraction=fraction, seed=seed)
    # ONE job: per-doc-distinct tokens exploded and counted = sampled doc
    # frequency (array_distinct makes each (doc, term) contribute once);
    # the threshold uses the EXPECTED sample size — a sketch needs no
    # exact denominator, and skipping the count() halves the pre-pass
    counts = (
        sample.select(
            F.explode(F.array_distinct(analyze_udf(F.col(text_col))))
            .alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("sdf"))
    )
    n_expected = max(fraction * doc_count, 1.0)
    rows = (
        counts.filter(F.col("sdf") >= min_df_frac * n_expected)
        .orderBy(F.desc("sdf"), "term")
        .limit(n_heads)
        .collect()
    )
    return [r["term"] for r in rows]


def balanced_bin_expr(spark: SparkSession, parts: int, head_terms: list[str]):
    """The encode-shuffle bin assignment as a Column over (term, seg).

    Light terms keep today's placement exactly — pmod(hash(term, seg),
    parts), reproduced explicitly so the physical partition is unchanged.
    Head terms (the df-sketch output, rank r of ``head_terms``) are placed
    ROUND-ROBIN: bin = (seg * n_heads + r) % parts — every segment row of
    every head term lands in a deterministically distinct bin, replacing the
    Poisson scatter of ~seg_size-row groups that drove the r4 encode
    max/mean to 2.12 (BENCH.md zipf table: ~600 capped heavy groups over 64
    hash bins).  The returned column is a SALT int with
    pmod(murmur3(salt), parts) == target bin, so
    ``repartition(parts, "__bin")`` realizes the assignment exactly."""
    salts = _partition_salts(spark, parts)
    salt_arr = F.array(*[F.lit(int(s)) for s in salts])
    natural = F.pmod(F.hash("term", "seg"), F.lit(parts))
    if head_terms:
        n_heads = len(head_terms)
        rank_map = F.create_map(
            *[x for i, t in enumerate(head_terms) for x in (F.lit(t), F.lit(i))]
        )
        rank = rank_map[F.col("term")]
        target = F.when(
            rank.isNotNull(),
            F.pmod(F.col("seg") * F.lit(n_heads) + rank, F.lit(parts)),
        ).otherwise(natural)
    else:
        target = natural
    return F.element_at(salt_arr, target.cast("int") + 1)


def merge_partials_stage(
    partials: DataFrame,
    seg_size: int,
    num_partitions: int | None = None,
    head_terms: list[str] | None = None,
) -> DataFrame:
    """Packed partials → compressed posting rows.  THE one wide shuffle of
    the build, moving ~9 bytes/posting of packed arrays instead of 40+ bytes
    of row overhead.  With ``head_terms`` (the df-sketch pre-pass), the
    shuffle's bin assignment is the explicit head-salted round-robin of
    ``balanced_bin_expr`` instead of plain hash(term, seg) — the north
    rule's 'explicit salting for head-term skew', load-balancing the encode
    stage; group integrity (all partials of a (term, seg) in one partition)
    is preserved because the assignment is a pure function of (term, seg)."""
    parts = num_partitions or partials.sparkSession.sparkContext.defaultParallelism * 2
    if head_terms:
        spark = partials.sparkSession
        binned = partials.withColumn(
            "__bin", balanced_bin_expr(spark, parts, head_terms)
        )
        shuffled = binned.repartition(parts, "__bin").drop("__bin")
    else:
        shuffled = partials.repartition(parts, "term", "seg")
    return (
        shuffled.sortWithinPartitions("term", "seg")
        .mapInPandas(_merge_partials(seg_size), schema=POSTINGS_SCHEMA)
    )


def _encode_groups(pdf: pd.DataFrame, starts: np.ndarray, seg_size: int) -> pd.DataFrame:
    """Encode contiguous (term, seg) group slices of a sorted frame into
    posting rows — one output DataFrame per Arrow batch, not per group."""
    docid = pdf["docid"].to_numpy(dtype=np.int64)
    tfv = pdf["tf"].to_numpy(dtype=np.int64)
    dlv = pdf["dl"].to_numpy(dtype=np.int64)
    terms = pdf["term"].to_numpy()
    segs = pdf["seg"].to_numpy(dtype=np.int64)
    has_pos = "positions" in pdf.columns
    if has_pos:
        row_pos = pdf["positions"].to_numpy()
        # flat positions + per-ROW start offsets so group slices are O(1)
        pos_all = (
            np.concatenate([np.asarray(p, dtype=np.int64) for p in row_pos])
            if len(row_pos)
            else np.empty(0, dtype=np.int64)
        )
        row_off = np.zeros(len(pdf) + 1, dtype=np.int64)
        np.cumsum(tfv, out=row_off[1:])
    bounds = np.append(starts, len(pdf))
    cols: dict[str, list] = {
        "term": [], "seg": [], "df_local": [], "cf_local": [], "nblocks": [],
        "n_tail": [], "doc_blob": [], "freq_blob": [], "dl_blob": [],
        "tail_blob": [], "pos_blob": [], "block_last_docid": [], "imp_freqs": [],
        "imp_dls": [], "imp_offsets": [],
    }
    for i in range(len(starts)):
        s, e = int(bounds[i]), int(bounds[i + 1])
        seg = int(segs[s])
        local = docid[s:e] - seg * seg_size
        tfs = tfv[s:e]
        dls = dlv[s:e]
        enc = encode_postings(local, tfs, dls)
        imp_f, imp_dl, imp_off = block_frontiers(local, tfs, dls, BLOCK_SIZE)
        cols["term"].append(terms[s])
        cols["seg"].append(seg)
        cols["df_local"].append(e - s)
        cols["cf_local"].append(int(tfs.sum()))
        cols["nblocks"].append((e - s) // BLOCK_SIZE)
        cols["n_tail"].append(enc["n_tail"])
        cols["doc_blob"].append(enc["doc_blob"])
        cols["freq_blob"].append(enc["freq_blob"])
        cols["dl_blob"].append(enc["dl_blob"])
        cols["tail_blob"].append(enc["tail_blob"])
        cols["pos_blob"].append(
            encode_positions(pos_all[row_off[s] : row_off[e]], tfs) if has_pos else b""
        )
        cols["block_last_docid"].append(enc["block_last_docid"].tolist())
        cols["imp_freqs"].append(imp_f.tolist())
        cols["imp_dls"].append(imp_dl.tolist())
        cols["imp_offsets"].append(imp_off.tolist())
    return pd.DataFrame(cols)


def _group_starts(pdf: pd.DataFrame) -> np.ndarray:
    terms = pdf["term"].to_numpy()
    segs = pdf["seg"].to_numpy()
    new = np.ones(len(pdf), dtype=bool)
    new[1:] = (terms[1:] != terms[:-1]) | (segs[1:] != segs[:-1])
    return np.flatnonzero(new)


def _build_segment_partition(seg_size: int):
    """mapInPandas body over a (term, seg)-sorted partition: encode every
    complete group per Arrow batch, carrying the split last group forward.

    This replaces a per-group applyInPandas (one pandas invocation per tiny
    posting list — measured ~0.45 ms/group) with numpy boundary slicing:
    the per-group cost drops to the codec work itself.
    """

    def run(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            starts = _group_starts(pdf)
            if len(starts) == 1:
                carry = pdf
                continue
            last = int(starts[-1])
            carry = pdf.iloc[last:].reset_index(drop=True)
            yield _encode_groups(pdf.iloc[:last], starts[:-1], seg_size)
        if carry is not None and len(carry):
            yield _encode_groups(carry, _group_starts(carry), seg_size)

    return run


def segment_rows_stage(tf: DataFrame, seg_size: int, num_partitions: int | None = None) -> DataFrame:
    """(term, docid, seg, tf, dl) → compressed posting rows.

    THE one wide shuffle of the build: hash repartition on (term, seg) +
    sortWithinPartitions — Spark's sort-based exchange IS the segment merge
    (SegmentMerger.java:103-136); group encoding streams over the sorted run.
    """
    parts = num_partitions or tf.sparkSession.sparkContext.defaultParallelism * 2
    return (
        tf.repartition(parts, "term", "seg")
        .sortWithinPartitions("term", "seg", "docid")
        .mapInPandas(_build_segment_partition(seg_size), schema=POSTINGS_SCHEMA)
    )


def build_norms(docs_tok: DataFrame, seg_size: int) -> DataFrame:
    """docs(docid, dl) → norms(seg, n_docs, dl_blob, dl_sum) — one packed row
    per segment; dl_sum lets sumTotalTermFreq roll up from this tiny table
    instead of a second pass over the corpus."""

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(pdf["seg"].iloc[0])
        local = pdf["docid"].to_numpy(dtype=np.int64) - seg * seg_size
        n = int(local.max()) + 1
        arr = np.zeros(n, dtype=np.uint32)
        dls = pdf["dl"].to_numpy(dtype=np.int64)
        arr[local] = dls.astype(np.uint32)
        return pd.DataFrame(
            [{"seg": seg, "n_docs": len(pdf), "dl_blob": arr.tobytes(),
              "dl_sum": int(dls.sum())}]
        )

    return (
        docs_tok.select(
            "docid", "dl", (F.col("docid") / F.lit(seg_size)).cast("long").alias("seg")
        )
        .groupBy("seg")
        .applyInPandas(pack, schema="seg long, n_docs long, dl_blob binary, dl_sum long")
    )


def tokenize_docs(pages: DataFrame, text_col: str = "text", key_col: str = "url",
                  stopwords=ENGLISH_STOP_WORDS) -> DataFrame:
    """pages(+docid) → docs(docid, url, tokens, dl, norm).  ``stopwords``
    also accepts an :class:`lucene_spark.analysis.Analyzer` (custom filter
    chain)."""
    analyze_udf = make_analyze_udf(stopwords)

    @F.pandas_udf("integer")
    def norm_udf(dl: pd.Series) -> pd.Series:
        return pd.Series(int_to_byte4_np(dl.to_numpy(dtype=np.int64)).astype(np.int32))

    return pages.select(
        "docid",
        F.col(key_col).alias("url"),
        analyze_udf(F.col(text_col)).alias("tokens"),
    ).withColumn("dl", F.size("tokens")).withColumn("norm", norm_udf(F.col("dl")))


def invert(docs_tok: DataFrame, seg_size: int) -> DataFrame:
    """docs(docid, tokens, dl) → tf table (term, docid, seg, tf, dl).

    Lucene's invert step (IndexingChain.java:1120-1217 accumulating into
    TermsHashPerField) done as *partition-local* pandas aggregation: each doc
    lives in exactly one partition, so per-partition (term, docid) counts are
    already global — no shuffle here at all.  The only wide exchange in the
    whole build is the downstream groupBy(term, seg), and it moves unique
    (term, docid, tf) tuples rather than raw tokens (~3-5x less at web text's
    token repetition rates).
    """

    def local_invert(batches):
        for pdf in batches:
            n = pdf["tokens"].map(len).to_numpy(dtype=np.int64)
            if n.sum() == 0:
                continue
            flat = pd.DataFrame(
                {
                    "term": np.concatenate([np.asarray(t, dtype=object) for t in pdf["tokens"]]),
                    "docid": np.repeat(pdf["docid"].to_numpy(dtype=np.int64), n),
                    "dl": np.repeat(pdf["dl"].to_numpy(dtype=np.int64), n),
                }
            )
            out = (
                flat.groupby(["term", "docid"], sort=False)
                .agg(tf=("dl", "size"), dl=("dl", "first"))
                .reset_index()
            )
            out["seg"] = out["docid"] // seg_size
            yield out[["term", "docid", "seg", "tf", "dl"]]

    return docs_tok.select("docid", "dl", "tokens").mapInPandas(
        local_invert, schema="term string, docid long, seg long, tf long, dl long"
    )


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    text_col: str = "text",
    key_col: str = "url",
    seg_size: int | None = None,
    docid_col: str | None = None,
    shuffle_partitions: int | None = None,
    with_positions: bool = False,
    stopwords=ENGLISH_STOP_WORDS,
    check_unique_keys: bool = True,
    balance_heads: bool = True,
) -> Index:
    """Full batch index build. If ``docid_col`` is given, docIDs are taken
    from that column (caller-owned contract); otherwise assigned by url rank.

    Rank-assigned docIDs are derived POSITIONALLY in two independent passes
    over the persisted ranged frame, which is only recomputation-stable when
    ``key_col`` is unique (duplicate keys could sort differently if a cached
    partition is lost and recomputed, assigning inconsistent docids between
    the docs and postings passes).  ``check_unique_keys`` enforces that
    contract with one count-distinct over the keys; disable only when the
    caller guarantees uniqueness out-of-band.

    ``with_positions=True`` adds the positions channel (IndexOptions
    DOCS_AND_FREQS_AND_POSITIONS, index/IndexOptions.java:40) enabling phrase
    queries; default DOCS_AND_FREQS matches the BM25 north rule.

    Only ``key_col``/``text_col`` (plus ``docid_col``) flow into the build —
    other input columns (html blobs, timestamps) never enter a shuffle or an
    Arrow transfer.
    """
    num_partitions = pages.sparkSession.sparkContext.defaultParallelism
    if docid_col is None:
        base, offs, doc_count = _ranged_with_offsets(
            pages.select(key_col, text_col), key_col, num_partitions,
            check_unique=check_unique_keys,
        )
    else:
        cols = list(dict.fromkeys([key_col, text_col, docid_col]))
        base = pages.select(*cols)
        if docid_col != "docid":
            base = base.withColumn("docid", F.col(docid_col))
        offs = None
        doc_count = base.count()

    if seg_size is None:
        # target ~8 segments per shuffle partition at small scale, 1M docs/seg at large
        seg_size = max(1024, min(1_000_000, (doc_count // 32) + 1))

    key_type = base.schema[key_col].dataType.simpleString()
    docs = base.mapInPandas(
        _docs_meta_pass(offs, text_col, key_col, stopwords),
        schema=f"docid long, url {key_type}, dl long, norm int",
    )
    partials = base.mapInPandas(
        _fused_invert_pass(offs, text_col, seg_size, stopwords, with_positions),
        schema=PARTIALS_SCHEMA,
    )
    # df-sketch pre-pass → head-salted encode shuffle (north rule's explicit
    # head-term salting; ~target_sample docs analyzed, driver state ≤ n_heads).
    # Adaptive: below HEAD_SALT_MIN_DOCS the whole encode stage is a couple
    # of seconds of work, so the sketch job's fixed cost exceeds any
    # straggler it could shave — hash placement is kept there; above it
    # (where a straggler bin is minutes at cluster scale) the sketch runs.
    head_terms = (
        estimate_head_terms(base, text_col, stopwords, doc_count)
        if balance_heads and doc_count >= HEAD_SALT_MIN_DOCS
        else None
    )
    postings = merge_partials_stage(
        partials, seg_size, num_partitions=shuffle_partitions,
        head_terms=head_terms,
    )

    # global term stats roll up from segment rows — no extra wide shuffle
    # over the tf table (TermStates.build walks segments the same way,
    # index/TermStates.java:95)
    termdict = postings.groupBy("term").agg(
        F.sum("df_local").alias("df"), F.sum("cf_local").alias("cf")
    )

    # one analysis pass feeds norms; sumTotalTermFreq rolls up from the tiny
    # per-segment norms table (persisted here so the pass runs exactly once)
    norms = build_norms(docs, seg_size).persist()
    sum_ttf = norms.agg(F.sum("dl_sum")).collect()[0][0] or 0

    return Index(
        docs=docs,
        postings=postings,
        termdict=termdict,
        norms=norms,
        doc_count=doc_count,
        sum_total_term_freq=int(sum_ttf),
        seg_size=seg_size,
        head_terms=head_terms,
    )


def build_multifield_index(
    spark: SparkSession,
    pages: DataFrame,
    fields: dict[str, str],
    key_col: str = "url",
    default_field: str = "text",
    seg_size: int | None = None,
    with_positions: bool = False,
    stopwords=ENGLISH_STOP_WORDS,
    shuffle_partitions: int | None = None,
    docid_col: str | None = None,
) -> Index:
    """Multi-field index: one postings/termdict table holding every field's
    terms, non-default fields namespaced as ``field:term``.

    Lucene model: a document's fields are independently inverted into ONE
    term dictionary keyed (field, term) (index/Term.java:30; IndexingChain
    invert per field, index/IndexingChain.java:583), with per-field norms
    (one numeric dl per (field, doc) — our posting rows embed each field's
    own dl, so field norms ride the existing layout unchanged) and per-field
    collection statistics (docCount/sumTotalTermFreq of that field,
    search/IndexSearcher.java:395) feeding BM25.

    ``fields``: {field_name: input column}.  The default field's terms stay
    UNprefixed — a multi-field index is a superset of the single-field
    layout, and every existing query path works on it untouched.

    Spark shape: docIDs are assigned ONCE (rank over ``key_col``); each
    field then runs the standard fused build against those shared docids,
    and the per-field posting tables union into one — per-field builds are
    independent narrow passes + one wide shuffle each, over only that
    field's column (column pruning keeps unrelated fields out of every
    exchange).  Per-field stats: docCount = docs with >= 1 token in the
    field (Lucene's Terms.getDocCount semantics), sumTotalTermFreq = Σ dl.
    """
    if default_field not in fields:
        raise ValueError(f"fields must include default_field {default_field!r}")
    cols = list(dict.fromkeys([key_col] + list(fields.values())))
    if docid_col is not None:
        ids = pages.select(*cols, F.col(docid_col).alias("docid")).persist()
    else:
        ids = assign_docids(pages.select(*cols), key_col).persist()
    ids.count()

    base = build_index(
        spark, ids, text_col=fields[default_field], key_col=key_col,
        docid_col="docid", seg_size=seg_size, with_positions=with_positions,
        stopwords=stopwords, shuffle_partitions=shuffle_partitions,
    )
    postings, termdict = base.postings, base.termdict
    field_stats: dict[str, tuple[int, int]] = {}
    field_docs: dict[str, DataFrame] = {}
    for f, col in fields.items():
        if f == default_field:
            continue
        fidx = build_index(
            spark, ids, text_col=col, key_col=key_col, docid_col="docid",
            seg_size=base.seg_size, with_positions=with_positions,
            stopwords=stopwords, shuffle_partitions=shuffle_partitions,
        )
        pfx = F.concat(F.lit(f + ":"), F.col("term"))
        postings = postings.unionByName(fidx.postings.withColumn("term", pfx))
        termdict = termdict.unionByName(fidx.termdict.withColumn("term", pfx))
        row = fidx.docs.agg(
            F.count(F.when(F.col("dl") > 0, 1)).alias("dc"),
            F.sum("dl").alias("sttf"),
        ).collect()[0]
        field_stats[f] = (int(row["dc"]), int(row["sttf"] or 0))
        field_docs[f] = fidx.docs.select("docid", "dl")

    ids.unpersist()
    return Index(
        docs=base.docs, postings=postings, termdict=termdict, norms=base.norms,
        doc_count=base.doc_count, sum_total_term_freq=base.sum_total_term_freq,
        seg_size=base.seg_size, field_stats=field_stats,
        field_docs=field_docs,
    )


def add_indexes(a: Index, b: Index) -> Index:
    """IndexWriter.addIndexes(Directory...) analog: append ``b``'s documents
    after ``a``'s (index/IndexWriter.java addIndexes: segments are copied in
    and docIDs rebased — DocIDMerger docBase remap, index/DocIDMerger.java:32).

    Because posting blobs store SEGMENT-LOCAL docids, the merge is
    metadata-only: b's rows keep their compressed blobs untouched and only
    the ``seg`` column shifts by a's segment count — no posting is decoded,
    re-encoded, or shuffled.  At 100 TB this is the difference between an
    O(metadata) catalog update and a full rewrite; the term dictionary
    re-rolls up from the combined postings (vocabulary-sized aggregate).
    Collection stats add; per-field stats add field-wise.
    """
    if a.seg_size != b.seg_size:
        raise ValueError(
            f"seg_size mismatch: {a.seg_size} vs {b.seg_size} — rebuild one "
            "side (Lucene likewise requires compatible segment schemas)"
        )
    seg_size = a.seg_size
    # a's docids are dense ranks [0, doc_count); the next free segment
    n_segs_a = (a.doc_count + seg_size - 1) // seg_size
    doc_off = n_segs_a * seg_size

    postings_b = b.postings.withColumn("seg", F.col("seg") + F.lit(n_segs_a))
    docs_b = b.docs.withColumn("docid", F.col("docid") + F.lit(doc_off))
    if "seg" in docs_b.columns:
        docs_b = docs_b.withColumn(
            "seg", (F.col("docid") / F.lit(seg_size)).cast("long")
        )
    norms_b = b.norms.withColumn("seg", F.col("seg") + F.lit(n_segs_a))

    postings = a.postings.unionByName(postings_b)
    docs_a = a.docs
    if ("seg" in docs_a.columns) != ("seg" in docs_b.columns):
        if "seg" not in docs_a.columns:
            docs_a = docs_a.withColumn(
                "seg", (F.col("docid") / F.lit(seg_size)).cast("long")
            )
    termdict = (
        a.termdict.unionByName(b.termdict)
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    )
    tomb = None
    if a.tombstones is not None or b.tombstones is not None:
        parts = []
        if a.tombstones is not None:
            parts.append(a.tombstones.select("docid"))
        if b.tombstones is not None:
            parts.append(
                b.tombstones.select((F.col("docid") + F.lit(doc_off)).alias("docid"))
            )
        tomb = parts[0] if len(parts) == 1 else parts[0].union(parts[1])
    fs = None
    if a.field_stats or b.field_stats:
        fs = dict(a.field_stats or {})
        for f, (dc, st) in (b.field_stats or {}).items():
            dc0, st0 = fs.get(f, (0, 0))
            fs[f] = (dc0 + dc, st0 + st)
    return Index(
        docs=docs_a.unionByName(docs_b),
        postings=postings,
        termdict=termdict,
        norms=a.norms.unionByName(norms_b),
        doc_count=a.doc_count + b.doc_count,
        sum_total_term_freq=a.sum_total_term_freq + b.sum_total_term_freq,
        seg_size=seg_size,
        tombstones=tomb,
        field_stats=fs,
    )


# --- persistence + checkpointed resumable build (north rule) -------------------


def write_index(index: Index, out_dir: str, mode: str = "overwrite") -> None:
    """Persist the index tables. postings partitioned by seg (co-located
    reads), sorted by term within files so parquet min/max stats prune term
    lookups (the BlockTree/FST analog — SURVEY §4).  Tombstones persist as a
    fifth table — the Lucene90LiveDocsFormat .liv file analog — so a
    delete → write → read round-trip keeps documents deleted."""
    import shutil

    index.postings.sortWithinPartitions("term").write.mode(mode).partitionBy("seg").parquet(
        f"{out_dir}/postings"
    )
    # docs/norms are seg-partitioned to MATCH the streaming append_batch /
    # tiered_compact layout — a batch-written index must accept streaming
    # appends (mixing flat files with partition dirs loses rows on read)
    docs = index.docs
    if "seg" not in docs.columns:
        docs = docs.withColumn(
            "seg", (F.col("docid") / F.lit(index.seg_size)).cast("long")
        )
    docs.write.mode(mode).partitionBy("seg").parquet(f"{out_dir}/docs")
    index.termdict.write.mode(mode).parquet(f"{out_dir}/termdict")
    index.norms.write.mode(mode).partitionBy("seg").parquet(f"{out_dir}/norms")
    spark = index.docs.sparkSession
    stats = spark.createDataFrame(
        [(index.doc_count, index.sum_total_term_freq, index.seg_size)],
        "doc_count long, sum_total_term_freq long, seg_size long",
    )
    stats.write.mode(mode).parquet(f"{out_dir}/stats")
    if index.field_stats:
        spark.createDataFrame(
            [(f, dc, st) for f, (dc, st) in index.field_stats.items()],
            "field string, doc_count long, sum_total_term_freq long",
        ).write.mode(mode).parquet(f"{out_dir}/fields")
    elif mode == "overwrite":
        shutil.rmtree(f"{out_dir}/fields", ignore_errors=True)
    if index.field_docs:
        for f, fd in index.field_docs.items():
            fd.select("docid", "dl").write.mode(mode).parquet(
                f"{out_dir}/field_docs/{f}")
    elif mode == "overwrite":
        shutil.rmtree(f"{out_dir}/field_docs", ignore_errors=True)
    if index.tombstones is not None:
        index.tombstones.select("docid").write.mode(mode).parquet(f"{out_dir}/tombstones")
    elif mode == "overwrite":
        # an overwrite of an index that HAD tombstones must not resurrect
        # deleted docs from a stale liveDocs table
        shutil.rmtree(f"{out_dir}/tombstones", ignore_errors=True)
    if index.pulsed is not None:
        index.pulsed.write.mode(mode).parquet(f"{out_dir}/pulsed")
    elif mode == "overwrite":
        shutil.rmtree(f"{out_dir}/pulsed", ignore_errors=True)
    if index.rterms is not None:
        index.rterms.sortWithinPartitions("rterm").write.mode(mode).parquet(
            f"{out_dir}/rterms"
        )
    elif mode == "overwrite":
        shutil.rmtree(f"{out_dir}/rterms", ignore_errors=True)


def read_index(spark: SparkSession, out_dir: str) -> Index:
    import os

    stats = spark.read.parquet(f"{out_dir}/stats").collect()[0]
    tomb = None
    if os.path.isdir(f"{out_dir}/tombstones"):
        tomb = spark.read.parquet(f"{out_dir}/tombstones")
    pulsed = None
    if os.path.isdir(f"{out_dir}/pulsed"):
        pulsed = spark.read.parquet(f"{out_dir}/pulsed")
    rterms = None
    if os.path.isdir(f"{out_dir}/rterms"):
        rterms = spark.read.parquet(f"{out_dir}/rterms")
    field_stats = None
    if os.path.isdir(f"{out_dir}/fields"):
        field_stats = {
            r["field"]: (r["doc_count"], r["sum_total_term_freq"])
            for r in spark.read.parquet(f"{out_dir}/fields").collect()
        }
    field_docs = None
    if os.path.isdir(f"{out_dir}/field_docs"):
        field_docs = {
            f: spark.read.parquet(f"{out_dir}/field_docs/{f}")
            for f in os.listdir(f"{out_dir}/field_docs")
        }
    return Index(
        docs=spark.read.parquet(f"{out_dir}/docs"),
        postings=spark.read.parquet(f"{out_dir}/postings"),
        termdict=spark.read.parquet(f"{out_dir}/termdict"),
        norms=spark.read.parquet(f"{out_dir}/norms"),
        doc_count=stats["doc_count"],
        sum_total_term_freq=stats["sum_total_term_freq"],
        seg_size=stats["seg_size"],
        tombstones=tomb,
        pulsed=pulsed,
        rterms=rterms,
        field_stats=field_stats,
        field_docs=field_docs,
    )


def build_or_resume(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    text_col: str = "text",
    key_col: str = "url",
    seg_size: int = 4096,
    with_positions: bool = False,
    stopwords=ENGLISH_STOP_WORDS,
) -> dict:
    """Checkpointed per-segment build with lineage + metrics (north rule).

    Lineage rows record (seg, n_docs, n_postings, bytes, wall_s); a re-run
    with the same out_dir builds only segments missing from the lineage
    table — idempotent because docid→seg assignment is deterministic.
    Returns the lineage summary dict.
    """
    import os
    import shutil

    lineage_path = f"{out_dir}/lineage"
    done: set[int] = set()
    if os.path.isdir(lineage_path):
        try:
            done = {r["seg"] for r in spark.read.parquet(lineage_path).collect()}
        except Exception:
            done = set()

    # crash-consistency: data is written BEFORE its lineage record, so a
    # failure in that window leaves orphan seg partitions on disk.  All three
    # per-segment tables are partitioned by seg, so a resume first removes
    # any seg partition not covered by lineage, making re-runs idempotent.
    for table in ("postings", "docs", "norms"):
        tdir = f"{out_dir}/{table}"
        if not os.path.isdir(tdir):
            continue
        for entry in os.listdir(tdir):
            if entry.startswith("seg="):
                try:
                    seg_id = int(entry.split("=", 1)[1])
                except ValueError:
                    continue
                if seg_id not in done:
                    shutil.rmtree(os.path.join(tdir, entry), ignore_errors=True)

    pages_id = assign_docids(pages, key_col=key_col)
    doc_count = pages_id.count()
    all_segs = set(range((doc_count + seg_size - 1) // seg_size))
    todo = sorted(all_segs - done)
    if not todo:
        return {"doc_count": doc_count, "segments": len(all_segs), "built": 0, "skipped": len(done)}

    t0 = time.time()
    subset = pages_id.filter(
        (F.col("docid") / F.lit(seg_size)).cast("long").isin([int(s) for s in todo])
    )
    key_type = pages.schema[key_col].dataType.simpleString()
    docs_meta = subset.select("docid", key_col, text_col).mapInPandas(
        _docs_meta_pass(None, text_col, key_col, stopwords),
        schema=f"docid long, url {key_type}, dl long, norm int",
    ).persist()
    partials = subset.select("docid", text_col).mapInPandas(
        _fused_invert_pass(None, text_col, seg_size, stopwords, with_positions),
        schema=PARTIALS_SCHEMA,
    )
    postings = merge_partials_stage(partials, seg_size).persist()

    postings.sortWithinPartitions("term").write.mode("append").partitionBy("seg").parquet(
        f"{out_dir}/postings"
    )
    docs_meta.withColumn(
        "seg", (F.col("docid") / F.lit(seg_size)).cast("long")
    ).write.mode("append").partitionBy("seg").parquet(f"{out_dir}/docs")
    build_norms(docs_meta, seg_size).write.mode("append").partitionBy("seg").parquet(
        f"{out_dir}/norms"
    )

    wall = time.time() - t0
    lineage = (
        postings.groupBy("seg")
        .agg(
            F.sum("df_local").alias("n_postings"),
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(F.length("doc_blob") + F.length("freq_blob") + F.length("tail_blob")).alias(
                "bytes"
            ),
        )
        .withColumn("wall_s", F.lit(float(wall)))
        .withColumn("built_at", F.lit(time.strftime("%Y-%m-%dT%H:%M:%S")))
    )
    lineage.write.mode("append").parquet(lineage_path)

    # global tables rebuilt from the full postings set (cheap aggregations)
    full_post = spark.read.parquet(f"{out_dir}/postings")
    termdict = full_post.groupBy("term").agg(
        F.sum("df_local").alias("df"), F.sum("cf_local").alias("cf")
    )
    full_docs = spark.read.parquet(f"{out_dir}/docs")
    sum_ttf = full_docs.agg(F.sum("dl")).collect()[0][0] or 0
    n_docs = full_docs.count()
    termdict.write.mode("overwrite").parquet(f"{out_dir}/termdict")
    spark.createDataFrame(
        [(n_docs, int(sum_ttf), seg_size)],
        "doc_count long, sum_total_term_freq long, seg_size long",
    ).write.mode("overwrite").parquet(f"{out_dir}/stats")

    docs_meta.unpersist()
    postings.unpersist()
    return {
        "doc_count": doc_count,
        "segments": len(all_segs),
        "built": len(todo),
        "skipped": len(done),
        "wall_s": wall,
    }


def add_reversed_terms(index: Index) -> Index:
    """Reversed-term sidecar for leading-wildcard acceleration — the
    ReverseStringFilter pattern (analysis/reverse/ReverseStringFilter.java:
    24-40: index reversed terms so ``*suffix`` becomes a prefix scan).

    One vocabulary-sized projection: (rterm = reverse(term), term), written
    term-sorted by rterm so parquet min/max stats prune ``rterm LIKE
    'xiffus%'`` the same way the forward termdict prunes prefixes.
    expand_terms uses it automatically for pure leading-wildcard patterns.
    """
    rt = index.termdict.select(
        F.reverse(F.col("term")).alias("rterm"), "term"
    ).repartitionByRange(F.col("rterm")).sortWithinPartitions("rterm")
    out = Index(
        docs=index.docs, postings=index.postings, termdict=index.termdict,
        norms=index.norms, doc_count=index.doc_count,
        sum_total_term_freq=index.sum_total_term_freq,
        seg_size=index.seg_size, tombstones=index.tombstones,
        pulsed=index.pulsed, rterms=rt,
    )
    out._term_stats = index._term_stats
    return out


def high_freq_terms(index: Index, n: int = 100, by: str = "df") -> DataFrame:
    """HighFreqTerms tool analog (misc/HighFreqTerms.java:43-90): the top-n
    vocabulary terms by docFreq or totalTermFreq — one
    TakeOrderedAndProject over the term dictionary (n rows to the driver),
    ties by term."""
    if by not in ("df", "cf"):
        raise ValueError("by must be 'df' (docFreq) or 'cf' (totalTermFreq)")
    return (
        index.termdict.select("term", "df", "cf")
        .orderBy(F.col(by).desc(), F.col("term"))
        .limit(n)
    )


def split_index(index: Index, at_seg: int) -> tuple[Index, Index]:
    """IndexSplitter analog (misc/index/IndexSplitter.java:40-47 — "does
    file-level copying of segments files ... unable to split apart a single
    segment"): cut the index at a SEGMENT boundary into two standalone
    indexes.  The inverse of :func:`add_indexes`, and metadata-only the
    same way: posting blobs store segment-local docids, so no posting is
    decoded or shuffled — part A keeps its rows verbatim (partition-pruned
    filter on ``seg``), part B only shifts its ``seg`` column and rebases
    the docs/norms docids; the term dictionaries re-roll up from each
    side's postings (vocabulary-sized aggregates).

    Query-based splitting (misc/index/PKIndexSplitter.java:43 — matching
    docs to dir1, rest to dir2) composes from existing ops:
    ``delete_docs`` (the complement set) + ``streaming.compact_index``
    per side, which is exactly the reference's delete-then-forceMerge
    implementation.

    Sidecars: tombstones split and rebase; the reversed-term and pulsing
    sidecars and per-field dl tables are NOT carried (rebuildable via
    ``add_reversed_terms`` / ``build_pulsed`` — each side's handle sets
    them to None rather than keeping stale supersets).
    """
    seg_size = index.seg_size
    n_segs = (index.doc_count + seg_size - 1) // seg_size
    if not 0 < at_seg < n_segs:
        raise ValueError(
            f"at_seg must be in (0, {n_segs}) — both sides need >= 1 segment"
        )
    cut = at_seg * seg_size

    def side(lo_filter, shift: int, count: int) -> Index:
        post = index.postings.filter(lo_filter(F.col("seg") * seg_size))
        docs = index.docs.filter(lo_filter(F.col("docid")))
        norms = index.norms.filter(lo_filter(F.col("seg") * seg_size))
        tomb = (
            index.tombstones.filter(lo_filter(F.col("docid")))
            if index.tombstones is not None else None
        )
        if shift:
            post = post.withColumn("seg", F.col("seg") - F.lit(at_seg))
            norms = norms.withColumn("seg", F.col("seg") - F.lit(at_seg))
            docs = docs.withColumn("docid", F.col("docid") - F.lit(shift))
            if "seg" in docs.columns:
                docs = docs.withColumn("seg", F.col("seg") - F.lit(at_seg))
            if tomb is not None:
                tomb = tomb.withColumn("docid", F.col("docid") - F.lit(shift))
        termdict = post.groupBy("term").agg(
            F.sum("df_local").alias("df"), F.sum("cf_local").alias("cf")
        )
        sttf = docs.agg(F.sum("dl")).collect()[0][0]
        return Index(
            docs=docs, postings=post, termdict=termdict, norms=norms,
            doc_count=count, sum_total_term_freq=int(sttf or 0),
            seg_size=seg_size, tombstones=tomb,
        )

    a = side(lambda c: c < F.lit(cut), 0, min(cut, index.doc_count))
    b = side(lambda c: c >= F.lit(cut), cut, index.doc_count - min(cut, index.doc_count))
    return a, b
