"""Per-layer numbers: driver-side probes of single modules, and the Spark
jobs and stages the traced engine calls launched."""

from __future__ import annotations

import time

import numpy as np

from .tracing import union_length
from .workloads import median

ANALYSIS_SAMPLE = 500
KERNEL_QUERIES = 40
PROBE_REPEATS = 3


# --- driver-side probes -----------------------------------------------------


def _median_time(fn) -> float:
    """Median seconds of ``fn()`` over PROBE_REPEATS calls."""
    times = []
    for _ in range(PROBE_REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


def analysis_probe(run) -> dict:
    from lucene_spark.analysis import analyze

    rng = np.random.default_rng([run.seed, 0xA1])
    texts = run.pdf["text"].iloc[rng.choice(len(run.pdf), ANALYSIS_SAMPLE, replace=False)].tolist()
    tokens = sum(len(analyze(t)) for t in texts)
    dt = _median_time(lambda: [analyze(t) for t in texts])
    return {"analysis.docs_per_s": len(texts) / dt, "analysis.tokens": tokens}


def log_posting_rows(run):
    """Posting rows and dfs of every term in the query log (benchmark jobs,
    outside any span)."""
    from pyspark.sql import functions as F

    from lucene_spark.search import parse_query, query_terms, rewrite

    terms = set()
    for _, q, _ in run.log:
        node = rewrite(parse_query(q))
        if node is not None:
            terms.update(query_terms(node))
    terms = sorted(terms)
    rows = [r.asDict() for r in run.index.postings.filter(F.col("term").isin(terms)).collect()]
    dfs = {r["term"]: r["df"] for r in
           run.index.termdict.filter(F.col("term").isin(terms)).select("term", "df").collect()}
    return rows, dfs


def codecs_probe(rows) -> dict:
    from lucene_spark.codecs import decode_postings, encode_postings

    blob_bytes = sum(len(r["doc_blob"]) + len(r["freq_blob"]) + len(r["dl_blob"])
                     + len(r["tail_blob"]) for r in rows)
    decoded = []

    def decode_all():
        decoded[:] = [decode_postings(bytes(r["doc_blob"]), bytes(r["freq_blob"]),
                                      bytes(r["tail_blob"]), int(r["n_tail"]),
                                      int(r["nblocks"]), dl_blob=bytes(r["dl_blob"]))
                      for r in rows]

    dec_s = _median_time(decode_all)
    enc_s = _median_time(lambda: [encode_postings(d, f, dl) for d, f, dl in decoded])
    return {"codecs.decode_mb_per_s": blob_bytes / 1e6 / dec_s,
            "codecs.encode_mb_per_s": blob_bytes / 1e6 / enc_s}


def kernel_probe(run, rows, dfs) -> tuple[dict, list[str]]:
    """Plan the first log queries with search's public planning functions,
    then replay their posting rows through ``segment_topk`` segment by
    segment on the driver.  The merged top-k must match the oracle."""
    from lucene_spark.kernel import segment_topk
    from lucene_spark.search import (apply_boosts, attach_scorers, expand_multiterm,
                                     parse_query, query_terms, rewrite)
    from lucene_spark.similarity import BM25Scorer, CollectionStats

    idx = run.index
    stats = CollectionStats(idx.doc_count, idx.sum_total_term_freq)
    by_term: dict[str, list[dict]] = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(r)
    plan_ms, kernel_s, segments, rows_per_hit, postings_per_hit, bad = [], [], [], [], [], []
    for qid, q, k in run.log[:KERNEL_QUERIES]:
        t0 = time.perf_counter()
        node = rewrite(parse_query(q))
        if node is not None:
            node = expand_multiterm(node, idx)
        if node is not None:
            node, _ = apply_boosts(node)
            terms = sorted(set(query_terms(node)))
        plan_ms.append((time.perf_counter() - t0) * 1e3)
        if node is None:
            continue
        scorers = {t: BM25Scorer(dfs[t], stats) for t in terms if t in dfs}
        node = attach_scorers(node, dfs, stats, 1.2, 0.75, "lucene")
        if node is None or not scorers or (node[0] == "and" and len(scorers) < len(terms)):
            continue
        segs: dict[int, dict] = {}
        for t in scorers:
            for r in by_term.get(t, []):
                segs.setdefault(int(r["seg"]), {})[t] = r
        t0 = time.perf_counter()
        found = [segment_topk(node, term_rows, scorers, idx.seg_size, k)
                 for term_rows in segs.values()]
        kernel_s.append(time.perf_counter() - t0)
        segments.append(len(segs))
        d = np.concatenate([f[0] + seg * idx.seg_size for seg, f in zip(segs, found)] or [[]])
        s = np.concatenate([f[1] for f in found] or [[]])
        order = np.lexsort((d, -s))[:k]
        top = run.oracle.search(q, k=k)
        if not (np.array_equal(d[order].astype(np.int64), top["docid"].to_numpy(dtype=np.int64))
                and np.array_equal(s[order].astype(np.float32),
                                   top["score"].to_numpy(dtype=np.float32))):
            bad.append(f"{qid} {q!r}: segment_topk replay differs from the oracle")
        if len(order):
            rows_per_hit.append(sum(len(v) for v in segs.values()) / len(order))
            postings_per_hit.append(sum(int(r["df_local"]) for v in segs.values()
                                        for r in v.values()) / len(order))
    run.attempted += len(kernel_s)
    run.failed += len(bad)
    return {
        "search.plan_ms": median(plan_ms),
        "search.rows_per_hit": median(rows_per_hit),
        "search.postings_per_hit": median(postings_per_hit),
        "kernel.segment_topk_s": median(kernel_s),
        "kernel.segments_per_query": median(segments),
    }, bad


def job_floor_s(spark) -> float:
    """One trivial job."""
    sc = spark.sparkContext
    return _median_time(lambda: sc.parallelize([0], 1).count())


def ceiling_probe_s(spark, cores: int) -> float:
    """Two rounds of one fixed single-threaded numpy burn per core: what a
    perfectly parallel Spark stage gets from this host right now.  The
    per-task burn is bench.py's ceiling probe."""
    import pandas as pd

    def burn(batches):
        for _ in batches:
            x = np.arange(50_000, dtype=np.float64)
            s = 0.0
            for _i in range(1500):
                s += float((x * 1.0001 + 0.5).sum())
            yield pd.DataFrame({"v": [s]})

    df = spark.range(2 * cores).repartition(2 * cores)
    t0 = time.perf_counter()
    df.mapInPandas(burn, "v double").count()
    return time.perf_counter() - t0


# --- Spark jobs and stages of traced calls -----------------------------------


def _jobs(tracer, sp):
    return [d for d in tracer.descendants(sp) if d.name.startswith("job:")]


def _stages(jobs):
    return [st for j in jobs for st in j.attrs["stages"]]


def _total(jobs, attr) -> float:
    return sum(j.attrs[attr] for j in jobs)


def _job_wall(jobs, *keys) -> float:
    return sum(j.duration for j in jobs if j.attrs["key"] in keys)


def _driver_gap(sp, jobs) -> float:
    return sp.duration - union_length([(j.start, j.end) for j in jobs])


def _busy(sp, jobs, cores) -> float:
    return _total(jobs, "run_s") / (sp.duration * cores)


def _scoring_stage(jobs):
    """The stage that read a shuffle and ran longest: the per-segment kernel."""
    reads = [st for st in _stages(jobs) if st["shuffle_read_bytes"] > 0]
    return max(reads, key=lambda st: st["run_s"], default=None)


def _med(ops, fn) -> float:
    vals = [fn(sp) for sp in ops]
    return median(vals) if vals else 0.0


def index_metrics(tracer, ops, cores, posting_rows) -> dict:
    jobs = {sp.sid: _jobs(tracer, sp) for sp in ops}
    out = {
        "index.build_jobs": _med(ops, lambda sp: len(jobs[sp.sid])),
        "index.build_tasks": _med(ops, lambda sp: _total(jobs[sp.sid], "tasks")),
        "index.build_executor_run_s": _med(ops, lambda sp: _total(jobs[sp.sid], "run_s")),
        "index.build_executor_cpu_s": _med(ops, lambda sp: _total(jobs[sp.sid], "cpu_s")),
        "index.build_busy_frac": _med(ops, lambda sp: _busy(sp, jobs[sp.sid], cores)),
        "index.build_shuffle_write_mb": _med(
            ops, lambda sp: _total(jobs[sp.sid], "shuffle_write_bytes") / 1e6),
        "index.build_failed_tasks": _med(ops, lambda sp: _total(jobs[sp.sid], "failed_tasks")),
        "index.build_driver_gap_s": _med(ops, lambda sp: _driver_gap(sp, jobs[sp.sid])),
        "index.posting_rows": posting_rows,
    }
    return out | _job_walls("index.job_wall_s.", ops, jobs)


def _job_walls(prefix, ops, jobs) -> dict:
    """Median per-op job wall time keyed by the engine function that launched it."""
    keys = sorted({j.attrs["key"] for js in jobs.values() for j in js})
    return {prefix + key: _med(ops, lambda sp, key=key: _job_wall(jobs[sp.sid], key))
            for key in keys}


def search_metrics(tracer, ops) -> dict:
    jobs = {sp.sid: _jobs(tracer, sp) for sp in ops}

    def scan_s(sp):
        # map side of the query's postings shuffle: writes a shuffle, reads none
        return sum(st["end"] - st["start"] for st in _stages(
            [j for j in jobs[sp.sid] if j.attrs["key"] == "search.search"])
            if st["shuffle_write_bytes"] > 0 and st["shuffle_read_bytes"] == 0)

    out = {
        "search.jobs_per_query": _med(ops, lambda sp: len(jobs[sp.sid])),
        "search.term_stats_s": _med(ops, lambda sp: _job_wall(
            jobs[sp.sid], "search.term_dfs", "search.term_cfs")),
        "search.postings_scan_s": _med(ops, scan_s),
        "search.driver_gap_s": _med(ops, lambda sp: _driver_gap(sp, jobs[sp.sid])),
    }
    return out | _job_walls("search.job_wall_s.", ops, jobs)


def search_many_metrics(tracer, ops, cores) -> dict:
    jobs = {sp.sid: _jobs(tracer, sp) for sp in ops}

    def scoring(sp, field):
        st = _scoring_stage(jobs[sp.sid])
        if st is None:
            return 0.0
        return st["end"] - st["start"] if field == "wall" else st[field]

    return {
        "search_many.jobs_per_batch": _med(ops, lambda sp: len(jobs[sp.sid])),
        "search_many.scoring_tasks": _med(ops, lambda sp: scoring(sp, "tasks")),
        "search_many.scoring_stage_s": _med(ops, lambda sp: scoring(sp, "wall")),
        "search_many.busy_frac": _med(ops, lambda sp: _busy(sp, jobs[sp.sid], cores)),
        "search_many.shuffle_write_mb": _med(
            ops, lambda sp: _total(jobs[sp.sid], "shuffle_write_bytes") / 1e6),
        "search_many.driver_gap_s": _med(ops, lambda sp: _driver_gap(sp, jobs[sp.sid])),
    }


def streaming_metrics(tracer, run) -> dict:
    def jobs_of(kind):
        return _med(run.ops.get(kind, []), lambda sp: len(_jobs(tracer, sp)))

    s = run.samples
    return {
        "streaming.update_batch_s": median(s["update_batch_s"]),
        "streaming.update_jobs": jobs_of("update_batch"),
        "streaming.refresh_s": median(s["refresh_s"]),
        "streaming.refresh_jobs": jobs_of("refresh_reader"),
        "streaming.update_docs_per_s": median(s["update_docs_per_s"]),
        "streaming.bytes_written_per_input_byte": median(s["written_per_input_byte"]),
        "streaming.segments": s["segments"][0],
        "search.deny_jobs_per_query": jobs_of("live_search"),
        "search.live_query_p50_s": median(s["live_query_s"]),
    }
