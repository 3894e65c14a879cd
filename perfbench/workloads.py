"""Seeded inputs and the timed workloads, driven through lucene_spark's public API.

Every workload is a closed loop with one client, this process: each engine
call blocks on a driver collect before the next one starts.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import numpy as np

N_DOCS = 5000
SETUP_REPEATS = 3
MIN_ROUNDS = 3
# untimed rounds before the loop: the JVM's JIT keeps speeding the engine up
# for tens of calls, and a run should time the plateau, not the slope
WARM_BUILDS = 2
WARM_ROUNDS = 4  # of one search() and one search_many()
UPDATE_STEPS = 2
UPDATE_DOCS = 200
UPDATE_REPLACED = 100  # of UPDATE_DOCS: keys that replace an existing doc
LIVE_QUERIES = 3

# The query log is the reference query set of FIXTURES.md §2, as
# corpus.generate_queries makes it from the seed (in this order: 20 single
# terms, 8 head, 8 mid and 4 tail; 15 OR of 2-5 terms; 15 AND of 2-4 terms;
# 5 mixed; 5 edge cases), plus 5 `(a AND b) OR (c AND d)` and 5 `a NOT b`
# over generate_queries' head and mid terms.  Every shape's count is a
# multiple of GROUPS, so the log splits into GROUPS groups with the same
# shares, laid out by GROUP_PATTERN; one group is one search_many batch.
REFERENCE_SHAPES = (("single", 20), ("or", 15), ("and", 15), ("mixed", 5), ("edge", 5))
GROUPS = 5
GROUP_PATTERN = ("single", "or", "and", "single", "mixed", "not", "single",
                 "or", "and_or", "and", "single", "edge", "or", "and")
BATCH_QUERIES = len(GROUP_PATTERN)
LOG_SIZE = GROUPS * BATCH_QUERIES


def query_log(seed: int) -> list[tuple[str, str, int]]:
    """[(qid, query, k)] — a pure function of ``seed``; see GROUP_PATTERN."""
    from lucene_spark.corpus import _vocab, generate_queries

    ref = generate_queries(seed)
    shapes, at = {}, 0
    for shape, n in REFERENCE_SHAPES:
        shapes[shape] = [(str(q), int(k)) for q, k in
                         zip(ref["query"][at:at + n], ref["k"][at:at + n])]
        at += n
    vocab = _vocab()
    head_mid = [str(v) for v in vocab[:8]] + [str(v) for v in vocab[30:38]]
    rng = np.random.default_rng([seed, 0x51])
    shapes["and_or"] = [("({} AND {}) OR ({} AND {})".format(*rng.choice(head_mid, 4, replace=False)),
                         (100, 10)[i % 2]) for i in range(GROUPS)]
    shapes["not"] = [("{} NOT {}".format(*rng.choice(head_mid, 2, replace=False)),
                      (100, 10)[i % 2]) for i in range(GROUPS)]
    log = []
    for g in range(GROUPS):
        # the g-th of every GROUPS items, so each group mixes head, mid and tail
        # singles and short and long OR/AND queries
        take = {shape: iter(qs[g::GROUPS]) for shape, qs in shapes.items()}
        for shape in GROUP_PATTERN:
            q, k = next(take[shape])
            log.append((f"q{len(log):03d}", q, k))
    return log


def make_session(cores: int, work_dir: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", work_dir)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work_dir} -XX:-UsePerfData")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # keep every job and stage of a run for the tracer's read at the end
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Run:
    """One benchmark run: the corpus, the log, the engine calls and what they returned."""

    def __init__(self, spark, tracer, seed: int, cores: int, work_dir: str):
        from lucene_spark.corpus import generate_pages

        self.spark, self.tracer, self.seed, self.cores = spark, tracer, seed, cores
        self.work_dir = work_dir
        self.pdf = generate_pages(N_DOCS, seed=seed)[["url", "text"]]
        self.text_bytes = int(sum(len(t.encode("utf-8")) for t in self.pdf["text"]))
        self.log = query_log(seed)
        self.queries = {qid: (q, k) for qid, q, k in self.log}
        self.attempted = 0
        self.failed = 0
        self.results: list[tuple[str, np.ndarray, np.ndarray]] = []  # timed queries
        self.builds: list[tuple[int, int, int]] = []  # doc_count, sum_ttf, sum df
        self.update_checks: list[str] = []  # update_mix mismatches
        self.ops: dict[str, list] = {}  # traced op spans by kind
        self.samples: dict[str, list[float]] = {}  # update-mix figures
        self.setup_s: list[float] = []
        self.plain: dict[str, list[float]] = {}  # timed-loop seconds by op kind
        self.traced: dict[str, list[float]] = {}
        self.pages = None
        self.index = None
        self.index_bytes = 0
        self.posting_rows = 0

    # --- engine calls -------------------------------------------------------

    def _record(self, kind, sp):
        if sp is not None:
            self.ops.setdefault(kind, []).append(sp)

    def load_pages(self):
        pages = self.spark.createDataFrame(self.pdf).repartition(self.cores).persist()
        pages.count()
        return pages

    def build(self, pages):
        """build_index, then materialize postings, termdict and norms."""
        from lucene_spark.index import build_index

        with self.tracer.span("build") as sp:
            with self.tracer.span("index.build_index"):
                idx = build_index(self.spark, pages)
            with self.tracer.span("materialize"):
                idx.postings = idx.postings.persist()
                idx.termdict = idx.termdict.persist()
                idx.termdict.count()
                self.posting_rows = idx.postings.count()
                idx.norms.count()
        self._record("build", sp)
        return idx

    def warm_up(self) -> None:
        """Untimed, untraced first calls, so that Python-worker start-up and
        code generation land in no timed figure."""
        from lucene_spark.search import search, search_many

        trace, self.tracer.enabled = self.tracer.enabled, False
        try:
            if self.index is None:
                for _ in range(WARM_BUILDS):
                    self.build(self.pages)
                    self.pages = self.fresh_pages()
            else:
                for r in range(WARM_ROUNDS):
                    _, q, k = self.log[-1 - r]
                    search(self.index, q, k=k)
                    search_many(self.index, {qid: q for qid, q, _ in self.log[-BATCH_QUERIES:]})
        finally:
            self.tracer.enabled = trace

    def fresh_pages(self):
        self.spark.catalog.clearCache()
        return self.load_pages()

    # --- set-up ---------------------------------------------------------------

    def setup(self, with_index: bool) -> None:
        """Repeat the workload's set-up; keep the last result."""
        for _ in range(SETUP_REPEATS):
            self.spark.catalog.clearCache()
            t0 = time.perf_counter()
            self.pages = self.load_pages()
            if with_index:
                self.index = self.build(self.pages)
            self.setup_s.append(time.perf_counter() - t0)
        if with_index:
            self.index_bytes = self.measure_index_bytes(self.index)

    def measure_index_bytes(self, idx) -> int:
        from pyspark.sql import functions as F

        blob = sum(F.coalesce(F.octet_length(c), F.lit(0))
                   for c in ("doc_blob", "freq_blob", "dl_blob", "tail_blob", "pos_blob"))
        return int(
            idx.postings.agg(F.sum(blob)).collect()[0][0]
            + idx.termdict.agg(F.sum(F.octet_length("term"))).collect()[0][0]
            + idx.norms.agg(F.sum(F.octet_length("dl_blob"))).collect()[0][0]
        )

    # --- timed loops ----------------------------------------------------------

    def loop(self, seconds: float, ops: list) -> None:
        """Closed loop: call each ``(kind, fn)`` of ``ops`` in turn until
        ``seconds`` have passed and MIN_ROUNDS rounds are done; ``fn`` gets its
        kind's call count and returns seconds.  In a traced run each round
        runs twice on the same calls, once traced and once untraced, the
        traced one first in every other round, which gives the tracing
        overhead on the same work from one process."""
        trace = self.tracer.enabled
        t_end = time.perf_counter() + seconds
        calls: dict[str, int] = {}
        r = 0
        try:
            while time.perf_counter() < t_end or r < MIN_ROUNDS:
                start = dict(calls)
                for traced in ((r % 2 == 0, r % 2 == 1) if trace else (False,)):
                    self.tracer.enabled = traced
                    calls = dict(start)
                    for kind, op in ops:
                        n = calls.get(kind, 0)
                        calls[kind] = n + 1
                        self.attempted += 1
                        try:
                            dt = op(n)
                        except Exception:  # noqa: BLE001 — count it and keep measuring
                            self.failed += 1
                            traceback.print_exc(file=sys.stderr)
                        else:
                            out = self.traced if traced else self.plain
                            out.setdefault(kind, []).append(dt)
                r += 1
        finally:
            self.tracer.enabled = trace

    def build_op(self, _i: int) -> float:
        """One timed build; the correctness figures and a fresh corpus frame
        are taken after the clock stops."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        idx = self.build(self.pages)
        dt = time.perf_counter() - t0
        sum_df = idx.termdict.agg(F.sum("df")).collect()[0][0]
        self.builds.append((idx.doc_count, idx.sum_total_term_freq, int(sum_df)))
        if not self.index_bytes:
            self.index_bytes = self.measure_index_bytes(idx)
        self.pages = self.fresh_pages()
        return dt

    def search_one(self, i: int) -> float:
        from lucene_spark.search import search

        qid, q, k = self.log[i % len(self.log)]
        t0 = time.perf_counter()
        with self.tracer.span("search.search", qid) as sp:
            td = search(self.index, q, k=k)
        dt = time.perf_counter() - t0
        self._record("search", sp)
        self.results.append((qid, td.docids, td.scores))
        return dt

    def search_batch(self, i: int) -> float:
        from lucene_spark.search import search_many

        n = len(self.log)
        batch = [self.log[(i * BATCH_QUERIES + j) % n] for j in range(BATCH_QUERIES)]
        t0 = time.perf_counter()
        with self.tracer.span("search.search_many", f"b{i}") as sp:
            out = search_many(self.index, {qid: q for qid, q, _ in batch},
                              ks={qid: k for qid, _, k in batch})
        dt = time.perf_counter() - t0
        self._record("search_many", sp)
        self.attempted += len(batch) - 1  # the caller counted the batch as one
        for qid, _, _ in batch:
            self.results.append((qid, out[qid].docids, out[qid].scores))
        return dt

    # --- writes beside reads ----------------------------------------------------

    def update_mix(self) -> None:
        """write_index, then per step: update_batch (a share of keys replace
        existing docs and tombstone them), refresh_reader, and live queries."""
        from lucene_spark.corpus import generate_pages
        from lucene_spark.index import write_index
        from lucene_spark.search import search
        from lucene_spark.streaming import refresh_reader, update_batch

        out_dir = os.path.join(self.work_dir, "index")
        with self.tracer.span("index.write_index"):
            write_index(self.index, out_dir)
        rng = np.random.default_rng([self.seed, 0x55])
        urls = sorted(self.pdf["url"])  # docid == rank of url
        replaced = rng.choice(N_DOCS, size=UPDATE_STEPS * UPDATE_REPLACED, replace=False)
        deleted: set[int] = set()
        appended = 0
        for step in range(UPDATE_STEPS):
            batch = generate_pages(UPDATE_DOCS, seed=self.seed + 1 + step)[["url", "text"]]
            old = replaced[step * UPDATE_REPLACED:(step + 1) * UPDATE_REPLACED]
            batch["url"] = [urls[j] for j in old] + [
                f"https://update{step}.example.net/p/{j:05d}"
                for j in range(UPDATE_DOCS - UPDATE_REPLACED)
            ]
            batch_df = self.spark.createDataFrame(batch)
            before = dir_bytes(out_dir)
            self.attempted += 1
            t0 = time.perf_counter()
            with self.tracer.span("streaming.update_batch") as up:
                n = update_batch(self.spark, batch_df, out_dir, seg_size=self.index.seg_size)
            t1 = time.perf_counter()
            with self.tracer.span("streaming.refresh_reader") as rf:
                reader = refresh_reader(self.spark, out_dir)
            t2 = time.perf_counter()
            self._record("update_batch", up)
            self._record("refresh_reader", rf)
            self.samples.setdefault("update_batch_s", []).append(t1 - t0)
            self.samples.setdefault("refresh_s", []).append(t2 - t1)
            self.samples.setdefault("update_docs_per_s", []).append(n / (t2 - t0))
            self.samples.setdefault("written_per_input_byte", []).append(
                (dir_bytes(out_dir) - before) / float(batch["text"].str.len().sum()))
            deleted.update(int(j) for j in old)
            appended += n
            n_dead = reader.tombstones.count() if reader.tombstones is not None else 0
            if n != UPDATE_DOCS or reader.doc_count != N_DOCS + appended \
                    or n_dead != len(deleted):
                self.failed += 1
                self.update_checks.append(
                    f"step {step}: appended {n}, doc_count {reader.doc_count}, "
                    f"deleted {n_dead}; plan {UPDATE_DOCS}, {N_DOCS + appended}, {len(deleted)}")
            for j in range(LIVE_QUERIES):
                qid, q, k = self.log[(step * LIVE_QUERIES + j) % len(self.log)]
                self.attempted += 1
                t0 = time.perf_counter()
                with self.tracer.span("search.search", f"live-{qid}") as sp:
                    td = search(reader, q, k=k)
                self.samples.setdefault("live_query_s", []).append(time.perf_counter() - t0)
                self._record("live_search", sp)
                hit_dead = deleted.intersection(int(d) for d in td.docids)
                if hit_dead:
                    self.failed += 1
                    self.update_checks.append(f"{qid}: tombstoned docids {sorted(hit_dead)[:5]} hit")
        self.samples["segments"] = [float(sum(
            1 for e in os.listdir(os.path.join(out_dir, "postings")) if e.startswith("seg=")))]

    # --- correctness ------------------------------------------------------------

    def check(self) -> list[str]:
        """Compare every timed result with the exhaustive oracle.  Returns
        the mismatches; each one also counts as a failed operation."""
        from lucene_spark.oracle import OracleIndex

        oracle = OracleIndex(self.pdf["url"].tolist(), self.pdf["text"].tolist())
        want_build = (oracle.doc_count, oracle.sum_ttf,
                      sum(len(p[0]) for p in oracle.postings.values()))
        bad = list(self.update_checks)
        for got in self.builds:
            if got != want_build:
                bad.append(f"build (doc_count, sum_ttf, sum_df) {got} != oracle {want_build}")
        expected: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for qid, docids, scores in self.results:
            if qid not in expected:
                q, k = self.queries[qid]
                top = oracle.search(q, k=k)
                expected[qid] = (top["docid"].to_numpy(dtype=np.int64),
                                 top["score"].to_numpy(dtype=np.float32))
            want_d, want_s = expected[qid]
            if not (np.array_equal(np.asarray(docids, dtype=np.int64), want_d)
                    and np.array_equal(np.asarray(scores, dtype=np.float32), want_s)):
                bad.append(f"{qid} {self.queries[qid][0]!r}: top-k differs from the oracle")
        self.failed += len(bad) - len(self.update_checks)
        self.oracle = oracle
        return bad


def median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")
