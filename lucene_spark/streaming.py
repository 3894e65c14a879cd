"""Incremental / near-real-time index maintenance via Structured Streaming.

Reference analog (SURVEY §2.6): Lucene's NRT story — new segments appended by
the writer, readers refresh to see them (index/DirectoryReader.java
openIfChanged, search/SearcherManager.java), background merges compact.

Spark mapping: a ``foreachBatch`` sink appends one *new segment generation*
per micro-batch — each batch's docs get docIDs above the current maxDoc
(batch = a DWPT flush), postings/norms rows are appended under fresh seg ids,
and stats/termdict are refreshed (``index._commit``).  ``compact_index`` is
the merge policy analog: rebuilds appended mini-segments into uniform
docID-range segments (SegmentMerger.java:103-136).  Appends and merges
write their posting rows through the batch build's encoder: appends build
their tables as ``build_index`` does, and merges pack the remapped postings
into the build's partial chunks, so every write has the build's one wide
shuffle — ``merge_partials_stage``, Spark's sorted exchange as the merge.

Queries over the live index see a point-in-time snapshot (parquet listing =
the segments_N commit analog).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .analysis import ENGLISH_STOP_WORDS
from .codecs import decode_positions, decode_rows
from .index import (
    PARTIALS_SCHEMA,
    _append_segments,
    _commit,
    _pack_partials,
    _ranged_with_offsets,
    _write_segments,
    merge_partials_stage,
    read_index,
)


def _next_seg_base(spark: SparkSession, out_dir: str, seg_size: int) -> int:
    """First docID of the next fresh segment.

    Every micro-batch opens NEW segment(s) — a (term, seg) postings row is
    written by exactly one batch, exactly like each Lucene flush producing
    its own immutable segment files.  docIDs may therefore have gaps between
    batches (a partially-filled final segment); correctness never depends on
    density, only on docID uniqueness + global order.
    """
    import os

    if not os.path.isdir(f"{out_dir}/docs"):
        return 0
    max_doc = spark.read.parquet(f"{out_dir}/docs").agg(F.max("docid")).collect()[0][0]
    if max_doc is None:
        return 0
    return ((int(max_doc) // seg_size) + 1) * seg_size


def append_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    out_dir: str,
    seg_size: int,
    text_col: str = "text",
    key_col: str = "url",
    with_positions: bool = False,
    stopwords=ENGLISH_STOP_WORDS,
) -> int:
    """Index one micro-batch as new segment(s) appended after maxDoc.

    docIDs continue from the next fresh segment base in batch arrival order
    (Lucene's arrival-order docIDs, IndexingChain.java:583 — the batch is the
    arrival unit).  Returns the number of docs appended.  Builds its tables
    exactly as the batch build does, writes them as seg-partitioned
    segments and publishes the new commit point (termdict + stats).
    """
    max_doc = _next_seg_base(spark, out_dir, seg_size)

    # assign arrival-order ids within the batch (deterministic: sort by key)
    from pyspark.sql.window import Window

    n_batch = batch_df.count()
    if n_batch == 0:
        return 0
    # micro-batches are small (streaming); a single-partition window is the
    # honest arrival-order assignment here, unlike the batch build
    w = Window.orderBy(key_col)
    pages = batch_df.withColumn("docid", F.row_number().over(w) - 1 + F.lit(max_doc))

    _append_segments(pages.select("docid", key_col, text_col), out_dir, text_col,
                     key_col, seg_size, stopwords, with_positions)
    _commit(out_dir, seg_size)
    return n_batch


def start_indexing_stream(
    stream_df: DataFrame,
    out_dir: str,
    seg_size: int = 4096,
    checkpoint_dir: str | None = None,
    text_col: str = "text",
    key_col: str = "url",
    trigger_once: bool = False,
    with_positions: bool = False,
):
    """readStream → foreachBatch(append_batch) → live index directory."""
    spark = stream_df.sparkSession

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        append_batch(spark, batch_df, out_dir, seg_size, text_col, key_col,
                     with_positions=with_positions)

    writer = stream_df.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir or f"{out_dir}/_stream_checkpoint"
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def refresh_reader(spark: SparkSession, out_dir: str):
    """SearcherManager.maybeRefresh analog: reopen the index at the current
    commit point (new parquet listing)."""
    return read_index(spark, out_dir)


MAX_BROADCAST_REMAP_RUNS = 2_000_000


def _flat_schema(has_pos: bool) -> str:
    s = "term string, docid long, tf long, dl long"
    return s + ", positions array<long>" if has_pos else s


def _positions_mode(postings: DataFrame) -> bool:
    """Whether a rewrite of ``postings`` keeps the positions channel: only
    if EVERY non-empty row has it — a base built with_positions plus
    batches appended without downgrades to no positions, as Lucene's
    FieldInfos merge takes the minimum IndexOptions across segments
    (index/FieldInfo.java verifySameIndexOptions)."""
    if not postings.filter(F.length("pos_blob") > 0).limit(1).count():
        return False
    return not postings.filter(
        (F.col("df_local") > 0) & (F.length("pos_blob") == 0)).limit(1).count()


def _dense_remap(docs: DataFrame, base: int = 0):
    """Order-preserving dense renumbering of ``docs`` (docid, url, dl, norm)
    from docid ``base`` — DocIDMerger's docBase remap (DocIDMerger.java:32)
    in the scalable form of ``index.assign_docids`` (range partition +
    offset broadcast, no single-partition window).

    → (``docs`` plus ``new_docid``; the remap as broadcast runs, or None;
    the live doc count; the persisted ranged frame, for the caller to
    unpersist).  The remap is piecewise linear: surviving docids form
    contiguous RUNS (old_start, new_start, len) broken only by deletes and
    inter-batch gaps, so they are collected — bounded by #holes +
    #partitions, not corpus size — for the posting pass to apply inline.
    Above MAX_BROADCAST_REMAP_RUNS runs the caller joins the remap frame
    instead."""
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    ranged, offs, n_live = _ranged_with_offsets(docs, "docid", parallelism)

    def numbered(batches):
        pid_base = None
        seen = 0
        for pdf in batches:
            if not len(pdf):
                continue
            if pid_base is None:
                pid_base = base + offs[int(pdf["__pid"].iloc[0])]
            pdf = pdf.drop(columns=["__pid"])
            pdf["new_docid"] = np.arange(
                pid_base + seen, pid_base + seen + len(pdf), dtype=np.int64
            )
            seen += len(pdf)
            yield pdf

    def emit_runs(batches):
        for pdf in numbered(batches):
            d, new = pdf["docid"].to_numpy(dtype=np.int64), pdf["new_docid"].to_numpy()
            brk = np.flatnonzero(np.diff(d) != 1) + 1
            starts = np.concatenate([[0], brk])
            ends = np.concatenate([brk, [len(d)]])
            yield pd.DataFrame({
                "old_start": d[starts], "new_start": new[starts],
                "run_len": ends - starts,
            })

    url_t = docs.schema["url"].dataType.simpleString()
    norm_t = docs.schema["norm"].dataType.simpleString()
    remap = ranged.mapInPandas(
        numbered,
        schema=f"docid long, url {url_t}, dl long, norm {norm_t}, new_docid long",
    )
    # a narrow second pass over the cached ranged frame reading only docid
    run_rows = ranged.select("docid", "__pid").mapInPandas(
        emit_runs, schema="old_start long, new_start long, run_len long"
    ).limit(MAX_BROADCAST_REMAP_RUNS + 1).collect()
    runs = None
    if len(run_rows) <= MAX_BROADCAST_REMAP_RUNS:
        arr = np.array(sorted((r["old_start"], r["new_start"], r["run_len"])
                              for r in run_rows), dtype=np.int64).reshape(-1, 3)
        runs = (arr[:, 0], arr[:, 1], arr[:, 2])
    return remap, runs, n_live, ranged


def _explode_remap_pass(old_seg_size, has_pos, seg_size=None, runs=None):
    """mapInPandas body: posting rows → their postings as flat numpy arrays
    (no per-posting Python objects), each batch decoded at once by
    ``decode_rows``.  With broadcast remap ``runs``
    (run_old, run_new, run_len), docids falling in remap holes (deletes /
    gaps) are dropped, new ids assigned inline — no join — and each batch
    is packed into PARTIALS_SCHEMA chunks at ``seg_size`` (the remap keeps
    docid order, so an old row packs to one chunk per new segment it
    spans).  With runs=None, global docids are emitted unchanged, one row
    per posting (``_flat_schema``), for a downstream remap join."""

    def run(batches):
        for pdf in batches:
            starts, d, tf, dl = decode_rows(pdf)
            counts = np.diff(starts)
            term = np.repeat(pdf["term"].to_numpy(), counts)
            docid = d + np.repeat(pdf["seg"].to_numpy(dtype=np.int64) * old_seg_size, counts)
            # every row's positions follow one another, each posting's first one raw
            pos = decode_positions(b"".join(pdf["pos_blob"]), tf) if has_pos else None
            if runs is not None:
                run_old, run_new, run_len = runs
                ri = np.searchsorted(run_old, docid, side="right") - 1
                ric = np.clip(ri, 0, max(len(run_old) - 1, 0))
                keep = (ri >= 0) & (docid - run_old[ric] < run_len[ric])
                if not keep.all():
                    if pos is not None:
                        pos = pos[np.repeat(keep, tf)]
                    term, docid, tf, dl, ric = term[keep], docid[keep], tf[keep], dl[keep], ric[keep]
                docid = run_new[ric] + (docid - run_old[ric])
            if not len(docid):
                continue
            if runs is not None:
                yield _pack_partials(term, docid, tf, dl, seg_size, pos)
                continue
            cols = {"term": term, "docid": docid, "tf": tf, "dl": dl}
            if has_pos:
                # list-of-ndarray views per posting — Arrow serializes
                # without materializing per-int Python objects
                cols["positions"] = np.split(pos, np.cumsum(tf)[:-1])
            yield pd.DataFrame(cols)

    return run


def _pack_joined(seg_size: int, has_pos: bool):
    """mapInPandas body: remap-joined posting rows (term, docid, tf, dl
    [, positions]) → PARTIALS_SCHEMA chunks, each Arrow batch sorted by
    (term, docid) first so it packs to one chunk per (term, seg)."""

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            term = pdf["term"].to_numpy()
            docid = pdf["docid"].to_numpy(dtype=np.int64)
            o = np.lexsort((docid, term))
            pos = (np.concatenate(pdf["positions"].to_numpy()[o]).astype(np.int64)
                   if has_pos else None)
            yield _pack_partials(term[o], docid[o], pdf["tf"].to_numpy(dtype=np.int64)[o],
                                 pdf["dl"].to_numpy(dtype=np.int64)[o], seg_size, pos)

    return run


def _remapped_postings(postings: DataFrame, old_seg_size: int, seg_size: int,
                       has_pos: bool, runs=None, remap: DataFrame | None = None) -> DataFrame:
    """Posting rows re-encoded under a docid remap at ``seg_size`` — the
    rewrite of every merge (``compact_index``, ``tiered_compact``,
    ``rearrange_index``).  With broadcast ``runs`` the remap is applied
    inline by the decode pass; otherwise the postings explode to one row
    per posting and join ``remap`` (docid → new_docid; unmatched postings
    drop), and each Arrow batch of the join is packed.  Either way the
    chunks go through the build's ``merge_partials_stage``: one encoder,
    and a shuffle of chunks, not postings."""
    if runs is not None:
        partials = postings.mapInPandas(
            _explode_remap_pass(old_seg_size, has_pos, seg_size, runs),
            schema=PARTIALS_SCHEMA,
        )
    else:
        flat = postings.mapInPandas(
            _explode_remap_pass(old_seg_size, has_pos), schema=_flat_schema(has_pos))
        joined = (flat.join(remap.select("docid", "new_docid"), "docid")
                  .drop("docid").withColumnRenamed("new_docid", "docid"))
        partials = joined.mapInPandas(_pack_joined(seg_size, has_pos), schema=PARTIALS_SCHEMA)
    return merge_partials_stage(partials, seg_size)


def compact_index(spark: SparkSession, in_dir: str, out_dir: str, seg_size: int = 4096):
    """Merge-policy analog (SegmentMerger.java:103-136): rebuild the appended
    mini-segments into dense docID-range segments, DROPPING tombstoned docs —
    the merge is where Lucene physically reclaims deletes
    (SegmentMerger.java:103-136 consults liveDocs via MergeState).

    docIDs are remapped dense preserving global order (``_dense_remap``).
    The remap normally travels as broadcast runs into the posting decode
    pass, so compaction has exactly ONE wide shuffle — the build's
    ``merge_partials_stage``, moving packed (term, seg) chunks; if deletes
    are so pathological that runs exceed MAX_BROADCAST_REMAP_RUNS, the
    postings join the remap frame first (``_remapped_postings``).

    Collection stats are recomputed over survivors (Lucene: merged segment
    stats exclude dropped docs).  Mixed positions (a base built
    with_positions + batches appended without) downgrade the merged index to
    no-positions (``_positions_mode``).

    No re-tokenization: (term, docid, tf, dl) is fully recoverable from the
    segment rows + norms.

    ``out_dir`` must not be ``in_dir`` (compared after resolving links):
    the rewrite would overwrite tables it is still reading, so that case
    raises ``ValueError`` before anything is read or written.
    """
    import os
    import shutil

    if os.path.realpath(in_dir) == os.path.realpath(out_dir):
        raise ValueError(
            f"compact_index: out_dir {out_dir!r} is in_dir; compact into another "
            "directory")
    old = read_index(spark, in_dir)
    live = old.docs.select("docid", "url", "dl", "norm")
    if old.tombstones is not None:
        live = live.join(old.tombstones.select("docid"), "docid", "left_anti")
    remap, runs, _, ranged = _dense_remap(live)
    postings = _remapped_postings(old.postings, old.seg_size, seg_size,
                                  _positions_mode(old.postings), runs, remap)
    new_docs = remap.select(F.col("new_docid").alias("docid"), "url", "dl", "norm")
    _write_segments(out_dir, seg_size, new_docs, postings, mode="overwrite")
    # stats over SURVIVORS (merged-away deletes leave the statistics)
    _commit(out_dir, seg_size)
    shutil.rmtree(f"{out_dir}/tombstones", ignore_errors=True)
    ranged.unpersist()
    return read_index(spark, out_dir)


# ------------------------------------------------------- tiered merge policy


def select_tiered_merge(
    seg_docs: dict[int, int], seg_size: int, merge_factor: int = 10,
    min_fill: float = 0.5,
) -> list[int]:
    """Pick a run of adjacent undersized segments to merge.

    TieredMergePolicy analog (index/TieredMergePolicy.java:74-90: merge
    ``mergeFactor`` segments of similar (small) size, leave full-sized
    segments alone).  Divergence, documented: candidates must be ADJACENT in
    docID order — this engine's docIDs are global, so merging non-adjacent
    segments would interleave docID ranges; Lucene's per-segment docID
    spaces don't have that constraint.  Returns the segment ids to merge
    ([] = nothing worth merging).
    """
    run: list[int] = []
    for s in sorted(seg_docs):
        if seg_docs[s] < seg_size * min_fill:
            run.append(s)
            if len(run) == merge_factor:
                return run
        else:
            if len(run) >= 2:
                return run
            run = []
    return run if len(run) >= 2 else []


def tiered_compact(
    spark: SparkSession,
    out_dir: str,
    merge_factor: int = 10,
    min_fill: float = 0.5,
) -> dict:
    """One round of the tiered merge policy over an NRT index directory:
    merge a run of adjacent undersized mini-segments (the per-micro-batch
    flushes) into packed segments, leaving full segments untouched.

    Unlike :func:`compact_index` (the forceMerge analog, full rewrite), this
    touches ONLY the selected run: its postings/docs/norms partitions are
    read partition-pruned, docids re-packed densely from the run's base
    (order-preserving, so untouched segments keep their ids), tombstoned
    docs inside the run are physically dropped, and the run's old segment
    partitions are swapped for the new ones.  Repeat after every N appends
    to bound segment count (IndexWriter's background merges).

    Commit-safety: the swap (delete old partitions, rename staged ones) is
    not atomic like Lucene's segments_N; a crash mid-swap needs a re-run of
    the same merge (the staging dir makes that idempotent).  Returns a
    report dict.
    """
    import os
    import shutil

    stats = spark.read.parquet(f"{out_dir}/stats").collect()[0]
    seg_size = int(stats["seg_size"])
    sizes = {
        int(r["seg"]): int(r["n_docs"])
        for r in spark.read.parquet(f"{out_dir}/norms").select("seg", "n_docs").collect()
    }
    run = select_tiered_merge(sizes, seg_size, merge_factor, min_fill)
    if not run:
        return {"merged": [], "segments": len(sizes)}
    if not os.path.isdir(f"{out_dir}/docs/seg={run[0]}"):
        raise ValueError(
            "tiered_compact needs a seg-partitioned docs table (NRT layout "
            "written by append_batch); use compact_index for flat layouts"
        )

    seg_col = F.col("seg").isin([int(s) for s in run])
    docs_run = spark.read.parquet(f"{out_dir}/docs").filter(seg_col).select(
        "docid", "url", "dl", "norm"
    )
    tomb_path = f"{out_dir}/tombstones"
    tomb = spark.read.parquet(tomb_path) if os.path.isdir(tomb_path) else None
    purged = 0
    if tomb is not None:
        before = docs_run.count()
        docs_run = docs_run.join(tomb.select("docid"), "docid", "left_anti")
        purged = before - docs_run.count()

    remap, runs, n_live, ranged = _dense_remap(docs_run, base=run[0] * seg_size)
    post_run = spark.read.parquet(f"{out_dir}/postings").filter(seg_col)
    new_postings = _remapped_postings(post_run, seg_size, seg_size,
                                      _positions_mode(post_run), runs, remap)

    staging = f"{out_dir}/_merging"
    shutil.rmtree(staging, ignore_errors=True)
    new_docs = remap.select(F.col("new_docid").alias("docid"), "url", "dl", "norm")
    _write_segments(staging, seg_size, new_docs, new_postings, mode="overwrite")

    # swap: drop the run's old partitions, move staged ones in
    for table in ("postings", "docs", "norms"):
        for s in run:
            shutil.rmtree(f"{out_dir}/{table}/seg={s}", ignore_errors=True)
        sdir = f"{staging}/{table}"
        for entry in os.listdir(sdir):
            if entry.startswith("seg="):
                os.rename(os.path.join(sdir, entry), f"{out_dir}/{table}/{entry}")
    shutil.rmtree(staging, ignore_errors=True)

    # refresh the commit point; stats/termdict change only if deletes purged
    _commit(out_dir, seg_size)
    if tomb is not None and purged:
        # purged tombstones leave the liveDocs table; others stay
        remaining = tomb.join(
            spark.createDataFrame([(int(s),) for s in run], "seg long"),
            (F.col("docid") / F.lit(seg_size)).cast("long") == F.col("seg"),
            "left_anti",
        ).select("docid")
        rem = remaining.collect()
        shutil.rmtree(tomb_path, ignore_errors=True)
        if rem:
            spark.createDataFrame(rem, "docid long").write.parquet(tomb_path)
    ranged.unpersist()
    return {
        "merged": run,
        "n_live": int(n_live),
        "purged": int(purged),
        "segments": len(sizes) - len(run)
        + int((n_live + seg_size - 1) // seg_size),
    }


def update_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    out_dir: str,
    seg_size: int,
    text_col: str = "text",
    key_col: str = "url",
    with_positions: bool = False,
    stopwords=ENGLISH_STOP_WORDS,
) -> int:
    """IndexWriter.updateDocument analog (index/IndexWriter.java:1540-1556:
    'atomically deletes all documents containing term and adds the new
    document'): tombstone every existing doc whose key matches a batch key,
    then append the batch as new segment(s).

    Delete-by-key is a broadcast semi-join of the (small) batch key set
    against the docs table — the delete-by-Term posting-lookup analog; the
    tombstones persist through the existing liveDocs table and the docs are
    physically dropped at the next compact_index/tiered_compact, exactly
    like Lucene applies update deletes at flush and purges at merge.
    Returns the number of docs appended.
    """
    from .index import read_index

    idx = read_index(spark, out_dir)
    keys = batch_df.select(F.col(key_col).alias("__k")).distinct()
    dead = idx.docs.join(
        F.broadcast(keys), idx.docs["url"] == F.col("__k")
    ).select("docid")
    # fold into any existing tombstones and persist (liveDocs .liv analog)
    idx.delete_docs(dead).write_tombstones(out_dir)
    return append_batch(
        spark, batch_df, out_dir, seg_size, text_col=text_col,
        key_col=key_col, with_positions=with_positions, stopwords=stopwords,
    )


def select_log_merges(sizes, merge_factor: int = 10, min_merge_size: int = 0,
                      max_merge_size: float = float("inf"),
                      max_merge_docs: float = float("inf"), docs=None,
                      merging=frozenset()) -> list[tuple[int, int]]:
    """LogMergePolicy.findMerges (index/LogMergePolicy.java:464-580): the
    classic log-levels selection (LogDocMergePolicy sizes by doc count,
    LogByteSizeMergePolicy by bytes — pass the corresponding ``sizes``).

    Faithful walk: per segment level = float32(ln(max(size,1))) / float32(
    ln(mergeFactor)); from ``start``, the window's max level minus
    LEVEL_LOG_SPAN (0.75) sets levelBottom (clamped up to the levelFloor
    from min_merge_size, or −1 when the whole window sits at/below the
    floor); ``upto`` walks back to the last segment at/above levelBottom,
    and full mergeFactor-sized runs inside [start, upto] become merges —
    skipped (but still consumed) when any member exceeds max_merge_size/
    max_merge_docs, aborted at a segment already merging.  Returns
    [(start, end)) index ranges in selection order.
    """
    if merge_factor < 2:
        raise ValueError("mergeFactor cannot be less than 2")
    n = len(sizes)
    norm = np.float32(math.log(merge_factor))
    levels = [np.float32(math.log(max(int(s), 1))) / norm for s in sizes]
    if min_merge_size <= 0:
        level_floor = np.float32(0.0)
    else:
        level_floor = np.float32(math.log(min_merge_size)) / norm
    docs = docs if docs is not None else sizes
    out: list[tuple[int, int]] = []
    start = 0
    while start < n:
        max_level = levels[start]
        for i in range(start + 1, n):
            max_level = max(max_level, levels[i])
        if max_level <= level_floor:
            level_bottom = np.float32(-1.0)
        else:
            level_bottom = np.float32(float(max_level) - 0.75)
            if level_bottom < level_floor and max_level >= level_floor:
                level_bottom = level_floor
        upto = n - 1
        while upto >= start:
            if levels[upto] >= level_bottom:
                break
            upto -= 1
        end = start + merge_factor
        while end <= 1 + upto:
            any_too_large = False
            any_merging = False
            for i in range(start, end):
                any_too_large |= (sizes[i] >= max_merge_size
                                  or docs[i] >= max_merge_docs)
                if i in merging:
                    any_merging = True
                    break
            if not any_merging and not any_too_large:
                out.append((start, end))
            start = end
            end = start + merge_factor
        start = 1 + upto
    return out


def select_forced_merges(sizes, max_num_segments: int,
                         merge_factor: int = 10) -> list[tuple[int, int]]:
    """LogMergePolicy.findForcedMergesMaxNumSegments (LogMergePolicy.java:
    243-299): mergeFactor-sized merges peel off the END while more than
    maxNumSegments would remain; ONLY when no full merge was enrolled,
    one final partial merge — the whole prefix for maxNumSegments == 1,
    else the least-cost non-lopsided window (the best-start scan with the
    sumSize < 2·previous-segment guard, :279-295)."""
    out: list[tuple[int, int]] = []
    n = len(sizes)
    last = n
    while last - max_num_segments + 1 >= merge_factor:
        out.append((last - merge_factor, last))
        last -= merge_factor
    if not out:
        if max_num_segments == 1:
            if last > 1:
                out.append((0, last))
        elif last > max_num_segments:
            final_size = last - max_num_segments + 1
            best_size = 0
            best_start = 0
            for i in range(0, last - final_size + 1):
                sum_size = sum(int(sizes[i + j]) for j in range(final_size))
                if i == 0 or (sum_size < 2 * int(sizes[i - 1])
                              and sum_size < best_size):
                    best_start = i
                    best_size = sum_size
            out.append((best_start, best_start + final_size))
    return out


def select_forced_deletes_merges(del_counts,
                                 merge_factor: int = 10) -> list[tuple[int, int]]:
    """LogMergePolicy.findForcedDeletesMerges (LogMergePolicy.java:
    383-428): consecutive RUNS of segments carrying deletions merge,
    mergeFactor at a time — a full run of mergeFactor forces a merge
    immediately, a shorter run merges when the sequence breaks (or at the
    end), delete-free segments are never touched."""
    out: list[tuple[int, int]] = []
    first = -1
    n = len(del_counts)
    for i in range(n):
        if int(del_counts[i]) > 0:
            if first == -1:
                first = i
            elif i - first == merge_factor:
                out.append((first, i))
                first = i
        elif first != -1:
            out.append((first, i))
            first = -1
    if first != -1:
        out.append((first, n))
    return out


def select_tiered_merges(
    segments: list[dict],
    max_merged_segment_bytes: int = 5 * 1024 * 1024 * 1024,
    floor_segment_bytes: int = 2 * 1024 * 1024,
    segs_per_tier: float = 10.0,
    max_merge_at_once: int = 10,
    deletes_pct_allowed: float = 33.0,
) -> list[list[str]]:
    """TieredMergePolicy.findMerges (index/TieredMergePolicy.java:321-437)
    + doFindMerges NATURAL (:439-632) + score (:636-676) — the REAL
    selection math, as a pure function over segment descriptors
    ``{name, size, bytes, del_count, max_doc, merging?}`` where ``size`` is
    the deletes-pro-rated live size MergePolicy.size() yields and
    ``bytes`` the raw sizeInBytes (the score's nonDelRatio denominator).

    Faithful walk: size-desc/name-asc sort; in-flight segments leave the
    pool (their live docs still count toward the deletes budget base);
    over-half-max segments leave when the index-wide or their own delete
    percentage is within budget; the allowed-count geometric ladder with
    the segsPerTier floor; then repeated best-window selection — windows
    from every start index in size order, over-budget segments skipped
    inside a window (hitTooLarge), singletons allowed only when they carry
    deletes, early break once a full-size window can no longer beat the
    best, score = skew · totAfter^0.05 · nonDelRatio², lowest score wins,
    at most one too-large merge per pass and none while one runs.
    Returns the merge lists of segment names in selection order."""
    sorted_eligible = sorted(
        segments, key=lambda s: (-int(s["size"]), s["name"]))
    tot_index_bytes = 0
    min_segment_bytes = float("inf")
    total_del_docs = 0
    total_max_doc = 0
    merging_bytes = 0
    pool = []
    for s in sorted_eligible:
        sz = int(s["size"])
        if s.get("merging"):
            merging_bytes += sz
            total_max_doc += int(s["max_doc"]) - int(s["del_count"])
        else:
            total_del_docs += int(s["del_count"])
            total_max_doc += int(s["max_doc"])
            pool.append(s)
        min_segment_bytes = min(min_segment_bytes, sz)
        tot_index_bytes += sz
    if not pool:
        return []
    total_del_pct = (100.0 * total_del_docs / total_max_doc
                     if total_max_doc else 0.0)
    allowed_del_count = int(deletes_pct_allowed * total_max_doc / 100)
    kept = []
    for s in pool:
        seg_del_pct = (100.0 * int(s["del_count"]) / int(s["max_doc"])
                       if int(s["max_doc"]) else 0.0)
        if (int(s["size"]) > max_merged_segment_bytes / 2
                and (total_del_pct <= deletes_pct_allowed
                     or seg_del_pct <= deletes_pct_allowed)):
            tot_index_bytes -= int(s["size"])
            allowed_del_count -= int(s["del_count"])
        else:
            kept.append(s)
    pool = kept
    allowed_del_count = max(0, allowed_del_count)
    merge_factor = int(min(max_merge_at_once, segs_per_tier))
    level_size = max(min_segment_bytes, floor_segment_bytes)
    bytes_left = tot_index_bytes
    allowed_seg_count = 0.0
    while True:
        seg_count_level = bytes_left / float(level_size)
        if seg_count_level < segs_per_tier or level_size == max_merged_segment_bytes:
            allowed_seg_count += math.ceil(seg_count_level)
            break
        allowed_seg_count += segs_per_tier
        bytes_left -= segs_per_tier * level_size
        level_size = min(max_merged_segment_bytes, level_size * merge_factor)
    allowed_seg_count = int(max(allowed_seg_count, segs_per_tier))
    max_merge_is_running = merging_bytes >= max_merged_segment_bytes
    return _do_find_tiered_merges(
        pool, merge_factor, allowed_seg_count, allowed_del_count,
        max_merged_segment_bytes, floor_segment_bytes,
        "natural", max_merge_is_running)


def _do_find_tiered_merges(pool, merge_factor, allowed_seg_count,
                           allowed_del_count, max_merged_segment_bytes,
                           floor_segment_bytes, merge_type,
                           max_merge_is_running):
    """TieredMergePolicy.doFindMerges (:439-632) over an eligibility pool
    (size-desc sorted descriptors).  NATURAL stops once the pool fits the
    allowed count and delete budget; FORCE_MERGE_DELETES runs the pool dry
    and may take any number of too-large merges (:606-609 guard)."""

    def floor_size(b):
        return max(floor_segment_bytes, b)

    sizes = {s["name"]: int(s["size"]) for s in pool}
    raw = {s["name"]: int(s.get("bytes", s["size"])) for s in pool}
    dels = {s["name"]: int(s["del_count"]) for s in pool}
    to_be_merged: set[str] = set()
    spec: list[list[str]] = []
    have_one_large = False
    while True:
        eligible = [s for s in pool if s["name"] not in to_be_merged]
        if not eligible:
            return spec
        remaining_del = sum(dels[s["name"]] for s in eligible)
        if (merge_type == "natural"
                and len(eligible) <= allowed_seg_count
                and remaining_del <= allowed_del_count):
            return spec
        best = None
        best_score = None
        best_too_large = False
        for start in range(len(eligible)):
            tot_after = 0
            candidate: list[str] = []
            hit_too_large = False
            bytes_this = 0
            idx = start
            while (idx < len(eligible) and len(candidate) < merge_factor
                   and bytes_this < max_merged_segment_bytes):
                nm = eligible[idx]["name"]
                seg_bytes = sizes[nm]
                if tot_after + seg_bytes > max_merged_segment_bytes:
                    hit_too_large = True
                    if not candidate:
                        candidate.append(nm)
                        bytes_this += seg_bytes
                    idx += 1
                    continue
                candidate.append(nm)
                bytes_this += seg_bytes
                tot_after += seg_bytes
                idx += 1
            if len(candidate) == 1 and dels[candidate[0]] == 0:
                continue
            if (best_score is not None and not hit_too_large
                    and len(candidate) < merge_factor):
                break
            tot_before = sum(raw[n] for n in candidate)
            tot_after_b = sum(sizes[n] for n in candidate)
            tot_after_floored = sum(floor_size(sizes[n]) for n in candidate)
            if hit_too_large:
                skew = 1.0 / merge_factor
            else:
                skew = floor_size(sizes[candidate[0]]) / tot_after_floored
            score = skew * (tot_after_b ** 0.05)
            score *= (tot_after_b / tot_before) ** 2 if tot_before else 1.0
            if ((best_score is None or score < best_score)
                    and (not hit_too_large or not max_merge_is_running)):
                best = candidate
                best_score = score
                best_too_large = hit_too_large
        if best is None:
            return spec
        if (not have_one_large or not best_too_large
                or merge_type == "force_merge_deletes"):
            have_one_large |= best_too_large
            spec.append(best)
        to_be_merged.update(best)


def select_tiered_forced_merges(
    segments: list[dict],
    max_segment_count: int,
    originals: set[str] | None = None,
    max_merged_segment_bytes: int = 5 * 1024 * 1024 * 1024,
    max_merge_at_once_explicit: int = 30,
) -> list[list[str]]:
    """TieredMergePolicy.findForcedMerges (index/TieredMergePolicy.java:
    682-820): forceMerge down to ``max_segment_count`` —

      - only segments in ``segmentsToMerge`` participate (``originals``;
        default: all); an in-flight original flags forceMergeRunning and
        leaves the pool;
      - the per-merge byte cap relaxes: unlimited for maxSegmentCount 1,
        else 1.25 · max(totalBytes/maxCount, maxMergedSegmentBytes);
      - segments carrying deletes ALWAYS stay; delete-free segments at or
        above the cap leave; with no deleted docs anywhere, an
        already-satisfied count returns nothing;
      - a final merge (few enough segments left) defers while another
        force-merge runs;
      - the small case (fewer than maxMergeAtOnceExplicit segments, down
        to one, all fitting) merges everything at once; otherwise packing
        walks from the SMALLEST segment, filling up to
        maxMergeAtOnceExplicit per merge under the cap (raw bytes), and a
        partial candidate only ships while no other force-merge runs
        (:798-808 — incl. the reference's count-vs-bytes 0.7 quirk,
        reproduced verbatim).
    """
    pool = sorted(segments, key=lambda s: (-int(s["size"]), s["name"]))
    originals = (set(originals) if originals is not None
                 else {s["name"] for s in pool})
    total_merge_bytes = 0
    force_merge_running = False
    kept = []
    for s in pool:
        if s["name"] not in originals:
            continue
        if s.get("merging"):
            force_merge_running = True
        else:
            total_merge_bytes += int(s["size"])
            kept.append(s)
    pool = kept
    max_merge_bytes = max_merged_segment_bytes
    if max_segment_count == 1:
        max_merge_bytes = float("inf")
    else:
        max_merge_bytes = max(total_merge_bytes / max_segment_count,
                              max_merged_segment_bytes)
        max_merge_bytes = max_merge_bytes * 1.25
    found_deletes = False
    kept = []
    for s in pool:
        if int(s["del_count"]) != 0:
            found_deletes = True
            kept.append(s)
            continue
        if int(s["size"]) >= max_merge_bytes:
            continue
        kept.append(s)
    pool = kept
    if not pool:
        return []
    if not found_deletes:
        if max_segment_count > 1 and len(pool) <= max_segment_count:
            return []
        if max_segment_count == 1 and len(pool) == 1:
            return []
    starting = len(pool)
    final_merge = starting < max_segment_count + max_merge_at_once_explicit - 1
    if final_merge and force_merge_running:
        return []
    if (starting < max_merge_at_once_explicit and max_segment_count == 1
            and total_merge_bytes < max_merge_bytes):
        return [[s["name"] for s in pool]]
    raw = {s["name"]: int(s.get("bytes", s["size"])) for s in pool}
    spec: list[list[str]] = []
    index = starting - 1
    resulting = starting
    while True:
        candidate: list[str] = []
        cand_bytes = 0
        merges_allowed = max_merge_at_once_explicit
        while (index >= 0 and resulting > max_segment_count
               and merges_allowed > 0):
            nm = pool[index]["name"]
            initial = len(candidate)
            seg_bytes = raw[nm]
            if cand_bytes + seg_bytes <= max_merge_bytes or initial < 2:
                candidate.append(nm)
                index -= 1
                cand_bytes += seg_bytes
                merges_allowed -= 1
                if initial > 0:
                    resulting -= 1
            else:
                break
        n = len(candidate)
        if n > 1 and (not force_merge_running
                      or n == max_merge_at_once_explicit
                      or n > 0.7 * max_merge_bytes):
            spec.append(candidate)
        else:
            return spec


def select_tiered_forced_deletes_merges(
    segments: list[dict],
    force_merge_deletes_pct_allowed: float = 10.0,
    max_merged_segment_bytes: int = 5 * 1024 * 1024 * 1024,
    floor_segment_bytes: int = 2 * 1024 * 1024,
    max_merge_at_once_explicit: int = 30,
) -> list[list[str]]:
    """TieredMergePolicy.findForcedDeletesMerges (:823-874): only segments
    whose delete percentage exceeds forceMergeDeletesPctAllowed (and are
    not already merging) participate; the shared selection core runs in
    FORCE_MERGE_DELETES mode — no allowed-count/budget stop (the pool runs
    dry), mergeFactor = maxMergeAtOnceExplicit, any number of too-large
    merges allowed."""
    have_work = any(
        not s.get("merging")
        and 100.0 * int(s["del_count"]) / int(s["max_doc"])
        > force_merge_deletes_pct_allowed
        for s in segments if int(s["max_doc"]))
    if not have_work:
        return []
    pool = sorted(segments, key=lambda s: (-int(s["size"]), s["name"]))
    pool = [s for s in pool
            if not s.get("merging")
            and int(s["max_doc"])
            and (100.0 * int(s["del_count"]) / int(s["max_doc"])
                 > force_merge_deletes_pct_allowed)]
    return _do_find_tiered_merges(
        pool, max_merge_at_once_explicit, 2**31 - 1, 0,
        max_merged_segment_bytes, floor_segment_bytes,
        "force_merge_deletes", False)
