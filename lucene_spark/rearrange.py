"""Index surgery tools — query-based split, multi-pass equal split, and
segment rearrangement.

Reference semantics (misc/src/java/org/apache/lucene/misc/index):

- ``PKIndexSplitter.java:43-57`` — "Split an index based on a Query. All
  documents that match the query are sent to dir1, remaining ones to
  dir2."  Implemented exactly as the reference does: artificial deletes
  of the complement set, then a forced merge that physically drops them
  (DocumentFilteredLeafIndexReader + addIndexes ≙ delete_docs +
  compact_index).
- ``MultiPassIndexSplitter.java:43-58`` — "splits input index into
  multiple equal parts ... input data comes from the input index with
  artificially applied deletes to the document id-s that fall outside the
  selected partition"; the source is re-read once per part (hence
  "multi-pass", :51-52).  ``seq=True`` keeps increasing docid ranges with
  the remainder in the last part (:86-93); ``seq=False`` keeps docid
  ``j`` in part ``i`` when ``(j + numParts - i) % numParts == 0``
  (:103), i.e. round-robin ``j % n == i``.
- ``IndexRearranger.java:41-58`` — "Copy and rearrange index according to
  document selectors ... Length of documentSelectors determines how many
  segments there will be."  Each selector's documents land in their own
  output segment, in source docid order.

Spark shapes:

- Splits reuse the persisted-index lifecycle (write tombstones → compact):
  each part costs one partition-pruned posting rewrite — the same single
  wide shuffle as a build, n parts = n passes, faithful to the tool.
- Rearrange is ONE pass: postings decode to flat (term, docid, tf, dl
  [, positions]) rows, join a selector-built remap (new docid =
  seg·seg_size + rank-within-selector), pack into partial chunks and
  re-encode per (term, new seg) through the build's
  ``merge_partials_stage`` (``streaming._remapped_postings``).  The remap
  rank is a window partitioned BY SELECTOR (each output segment ≤
  seg_size docs by construction), so no global single-partition window
  exists.

Divergence, documented: this engine's docids are globally segment-ranged
(docid // seg_size == seg), so a rearranged index has contiguous docids
*within* each segment but gaps *between* partial segments; doc_count
remains the number of documents.  Rearranged handles are searchable and
persistable, but should be compacted before add_indexes/split_index
(which infer segment counts from doc_count density).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .index import Index, _rollup_termdict, build_norms, write_index
from .streaming import _positions_mode, _remapped_postings, compact_index


def _split_by_keep_sets(spark: SparkSession, index: Index,
                        keep_sets: list[DataFrame],
                        out_dirs: list[str],
                        seg_size: int | None = None) -> list[Index]:
    """Shared engine for both splitters: per part, persist the source with
    the complement tombstoned, then compact (deletes physically dropped,
    stats rebuilt over survivors) — the artificial-deletes + addIndexes
    pattern of MultiPassIndexSplitter.java:44-45."""
    seg_size = seg_size or index.seg_size
    all_ids = index.docs.select("docid")
    parts: list[Index] = []
    for keep, out in zip(keep_sets, out_dirs):
        dead = all_ids.join(keep.select("docid"), "docid", "left_anti")
        tmp = tempfile.mkdtemp(prefix="ls_split_src_")
        try:
            write_index(index.delete_docs(dead), tmp)
            parts.append(compact_index(spark, tmp, out, seg_size=seg_size))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return parts


def pk_split_index(spark: SparkSession, index: Index, query,
                   out1: str, out2: str,
                   seg_size: int | None = None) -> tuple[Index, Index]:
    """PKIndexSplitter.java:43-57: matching docs → out1, the rest → out2."""
    from .search import score_docs

    matching = score_docs(index, query, precision="float64").select("docid")
    rest = index.docs.select("docid").join(matching, "docid", "left_anti")
    a, b = _split_by_keep_sets(spark, index, [matching, rest],
                               [out1, out2], seg_size)
    return a, b


def multipass_split_index(spark: SparkSession, index: Index,
                          out_dirs: list[str], seq: bool = False,
                          seg_size: int | None = None) -> list[Index]:
    """MultiPassIndexSplitter.java:61-110: n equal parts.  ``seq`` splits
    into increasing docid ranges (last part takes the remainder, :93);
    otherwise round-robin by ``docid % n`` (:103)."""
    n = len(out_dirs)
    if n < 2:
        raise ValueError("n parts must be >= 2 (MultiPassIndexSplitter:75)")
    ids = index.docs.select("docid")
    keep_sets = []
    if seq:
        part_len = index.doc_count // n
        for i in range(n):
            lo = part_len * i
            hi = part_len * (i + 1) if i < n - 1 else index.doc_count
            keep_sets.append(
                ids.filter((F.col("docid") >= lo) & (F.col("docid") < hi)))
    else:
        for i in range(n):
            keep_sets.append(ids.filter(F.col("docid") % n == i))
    return _split_by_keep_sets(spark, index, keep_sets, out_dirs, seg_size)


def rearrange_index(index: Index, selectors: list[DataFrame],
                    seg_size: int | None = None) -> Index:
    """IndexRearranger.java:41-58: one output segment per selector, each
    holding that selector's documents in source docid order.

    Selectors must be disjoint; documents matched by no selector are
    dropped (they would land in no output segment — same as the
    reference, where addIndexes only copies selected live docs).  Each
    selector must fit in one segment (≤ seg_size docs) because this
    engine's segments are docid ranges.
    """
    seg_size = seg_size or index.seg_size

    tagged = None
    for i, sel in enumerate(selectors):
        t = sel.select("docid").withColumn("sel", F.lit(i))
        tagged = t if tagged is None else tagged.unionByName(t)
    # rank within selector → new docid = sel*seg_size + rank
    w = Window.partitionBy("sel").orderBy("docid")
    remap = tagged.withColumn(
        "new_docid",
        F.col("sel") * seg_size + F.row_number().over(w) - 1,
    ).select("docid", "sel", "new_docid")
    remap = remap.persist()
    try:
        sizes = {int(r["sel"]): int(r["n"]) for r in
                 remap.groupBy("sel").agg(F.count("*").alias("n")).collect()}
        n_selected = sum(sizes.values())
        n_distinct = remap.select("docid").distinct().count()
        if n_distinct != n_selected:
            raise ValueError("selectors overlap — each doc may be selected "
                             "at most once (IndexRearranger contract)")
        for i, n in sizes.items():
            if n > seg_size:
                raise ValueError(
                    f"selector {i} holds {n} docs > seg_size {seg_size}; "
                    "raise seg_size so each selector fits one segment")

        postings = _remapped_postings(
            index.postings, index.seg_size, seg_size,
            _positions_mode(index.postings), remap=remap)
        new_docs = (index.docs.join(remap, "docid")
                    .drop("docid", "sel")
                    .withColumnRenamed("new_docid", "docid")
                    .select("docid", "url", "dl", "norm"))
        norms = build_norms(new_docs, seg_size)
        termdict = _rollup_termdict(postings)
        sum_ttf = new_docs.agg(F.sum("dl")).collect()[0][0] or 0
        return Index(
            docs=new_docs,
            postings=postings,
            termdict=termdict,
            norms=norms,
            doc_count=n_selected,
            sum_total_term_freq=int(sum_ttf),
            seg_size=seg_size,
        )
    finally:
        remap.unpersist()
