"""Spans around calls into the engine, with the Spark jobs each call launched.

The tracer never touches engine code.  Entering a span sets the Spark job
group to the span id.  When the run is over, :meth:`Tracer.finish` reads the
jobs of each group, and their stages, from the driver's status store.
Neither step launches a job.
"""

from __future__ import annotations

import ast
import itertools
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    request: str
    start: float
    end: float = 0.0
    # job spans only: tasks, run_s, cpu_s, shuffle_write_bytes, failed_tasks, stages
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children) -> float:
    """The span's duration minus the part of it its children cover."""
    clipped = [(max(c.start, span.start), min(c.end, span.end)) for c in children]
    return span.duration - union_length(clipped)


class CallSiteResolver:
    """Map a Spark call site (``collect at .../lucene_spark/search.py:2443``)
    to the engine function whose body holds that line (``search.search``).

    Functions are found with ``ast``, so an edit that shifts lines keeps the
    name.  Nested functions resolve to their dotted qualified name."""

    _SITE = re.compile(r"(\S+)\.py:(\d+)")

    def __init__(self, package_dir: str):
        self.package_dir = os.path.abspath(package_dir)
        self.package = os.path.basename(self.package_dir)
        self._spans: dict[str, list[tuple[int, int, str]]] = {}

    def _functions(self, module: str) -> list[tuple[int, int, str]]:
        if module not in self._spans:
            path = os.path.join(self.package_dir, *module.split(".")) + ".py"
            found: list[tuple[int, int, str]] = []
            try:
                with open(path, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read())
            except (OSError, SyntaxError):
                tree = None

            def walk(node, prefix):
                for child in ast.iter_child_nodes(node):
                    if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                        name = f"{prefix}{child.name}"
                        if not isinstance(child, ast.ClassDef):
                            found.append((child.lineno, child.end_lineno, name))
                        walk(child, name + ".")
                    else:
                        walk(child, prefix)

            if tree is not None:
                walk(tree, "")
            self._spans[module] = found
        return self._spans[module]

    def resolve(self, callsite: str) -> str | None:
        for path, line in self._SITE.findall(callsite or ""):
            parts = re.split(r"[\\/]", path)
            if self.package not in parts:
                continue
            at = len(parts) - 1 - parts[::-1].index(self.package)
            module = ".".join(parts[at + 1:])
            lineno = int(line)
            inner = None
            for start, end, name in self._functions(module):
                if start <= lineno <= end and (inner is None or start >= inner[0]):
                    inner = (start, name)
            if inner is not None:
                return f"{module}.{inner[1]}"
        return None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _epoch_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Tracer:
    """Spans kept in memory; one job span per Spark job a span launched.

    ``enabled=False`` makes :meth:`span` a no-op, so untraced runs share
    the traced code path."""

    def __init__(self, sc, resolver: CallSiteResolver, enabled: bool = True):
        self.sc = sc
        self.resolver = resolver
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    def _set_group(self, sid: str | None) -> None:
        if sid is None:
            # SparkContext.clearJobGroup does not exist in PySpark 4.1
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(sid, sid)

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = f"s{next(self._ids)}"
        req = request or (parent.request if parent else sid)
        sp = Span(sid, name, parent.sid if parent else None, req, time.time())
        self._stack.append(sp)
        self._set_group(sid)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(parent.sid if parent else None)
            self.spans.append(sp)

    def finish(self) -> None:
        """Read the Spark jobs of every span from the status store.  Done once,
        after timing, so a traced call pays only for two job-group updates."""
        self.spans.extend(j for sp in list(self.spans) for j in self._job_spans(sp))

    def _job_spans(self, sp: Span) -> list[Span]:
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        out = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(sp.sid)):
            job = store.job(jid)
            stages = []
            for stage_id in _seq(job.stageIds()):
                for st in _seq(store.stageData(stage_id, False, jvm.java.util.ArrayList(),
                                               False, self.sc._gateway.new_array(jvm.double, 0))):
                    if st.status().toString() != "COMPLETE":
                        continue
                    stages.append({
                        "id": stage_id,
                        "tasks": st.numTasks(),
                        "failed_tasks": st.numFailedTasks(),
                        "run_s": st.executorRunTime() / 1e3,
                        "cpu_s": st.executorCpuTime() / 1e9,
                        "shuffle_read_bytes": st.shuffleReadBytes(),
                        "shuffle_write_bytes": st.shuffleWriteBytes(),
                        "start": _epoch_s(st.submissionTime()),
                        "end": _epoch_s(st.completionTime()),
                    })
            # AQE stage jobs and DataFrameWriter jobs carry no engine call
            # site; they are keyed by the span that launched them
            key = self.resolver.resolve(job.name()) or sp.name
            start = _epoch_s(job.submissionTime()) or sp.start
            end = _epoch_s(job.completionTime()) or sp.end
            out.append(Span(f"{sp.sid}.j{jid}", f"job:{key}", sp.sid, sp.request, start, end, {
                "job_id": jid,
                "site": job.name(),
                "key": key,
                **{f: sum(st[f] for st in stages) for f in
                   ("tasks", "failed_tasks", "run_s", "cpu_s", "shuffle_write_bytes")},
                "stages": stages,
            }))
        return out

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid]

    def descendants(self, sp: Span) -> list[Span]:
        out, frontier = [], [sp.sid]
        while frontier:
            kids = [s for s in self.spans if s.parent in frontier]
            out.extend(kids)
            frontier = [k.sid for k in kids]
        return out

    def to_json(self) -> list[dict]:
        return [
            {"id": s.sid, "name": s.name, "parent": s.parent, "request": s.request,
             "start": s.start, "end": s.end, "self_s": self_time(s, self.children(s)),
             **{k: v for k, v in s.attrs.items() if k != "stages"}}
            for s in self.spans
        ]
