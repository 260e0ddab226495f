"""Traced-run support: an in-memory span recorder, Spark job attribution
through job groups, and wrappers around the package's tokenizer and
reader functions.

Spans are recorded only from the benchmark's own files, around calls
into a module's public functions; nothing in the package changes.
"""

from __future__ import annotations

import json
from contextlib import contextmanager

from perfbench.common import now


class Tracer:
    """Spans as [name, start, end, parent, request].  ``enabled`` tells
    callers whether to record; an untraced run never opens a span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []
        self.request = None

    @contextmanager
    def span(self, name: str):
        rec = [name, now(), None, self._stack[-1] if self._stack else None, self.request]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = now()
            self._stack.pop()

    def wrap(self, name: str, fn):
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        traced.__wrapped__ = fn
        return traced

    def self_times(self) -> list:
        """Per span: duration minus the union of its children's intervals."""
        children: dict = {}
        for i, s in enumerate(self.spans):
            if s[3] is not None:
                children.setdefault(s[3], []).append(i)
        out = []
        for i, (name, t0, t1, _p, _r) in enumerate(self.spans):
            covered, last = 0.0, t0
            for c in sorted(children.get(i, ()), key=lambda j: self.spans[j][1]):
                c0, c1 = max(self.spans[c][1], last), self.spans[c][2]
                if c1 > c0:
                    covered += c1 - c0
                    last = c1
            out.append((t1 - t0) - covered)
        return out

    def _under(self, i: int, prefixes: tuple) -> bool:
        """Whether an ancestor of span ``i`` has a name with one of ``prefixes``."""
        p = self.spans[i][3]
        while p is not None:
            if self.spans[p][0].startswith(prefixes):
                return True
            p = self.spans[p][3]
        return False

    def layer_table(self) -> dict:
        """{layer: {calls, total_ms, self_ms}}; a span's layer is its
        name up to the first dot, or ``bench`` for any span under one of
        the benchmark's own ``bench.*`` spans (its calls into the package
        between measured requests)."""
        table: dict = {}
        for i, (s, self_s) in enumerate(zip(self.spans, self.self_times())):
            layer = "bench" if self._under(i, ("bench.",)) else s[0].split(".")[0]
            row = table.setdefault(layer, {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
            row["calls"] += 1
            row["total_ms"] += (s[2] - s[1]) * 1000
            row["self_ms"] += self_s * 1000
        return table

    def calls(self, prefix: str) -> list:
        """Durations (ms) of spans whose name starts with ``prefix``."""
        return [(s[2] - s[1]) * 1000 for s in self.spans if s[0].startswith(prefix)]

    def outer_calls(self, prefix: str) -> list:
        """Durations (ms) of ``prefix`` spans that are neither nested in
        another ``prefix`` span nor under a ``bench.*`` span: a call that
        calls its own module counts once, and the benchmark's calls not
        at all."""
        return [(s[2] - s[1]) * 1000 for i, s in enumerate(self.spans)
                if s[0].startswith(prefix) and not self._under(i, (prefix, "bench."))]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"fields": ["name", "start", "end", "parent", "request"],
                       "spans": self.spans}, f)


class SparkWork:
    """Jobs, stages and tasks launched inside a block, read from the
    status tracker under a job group of its own.  Counting waits for
    ``finish`` so a timed call pays for one ``setJobGroup`` only."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._groups: list = []  # (phase, group id)
        self.log: list = []      # (phase, jobs, stages, tasks)

    @contextmanager
    def group(self, phase: str):
        gid = f"perfbench-{len(self._groups)}"
        self._groups.append((phase, gid))
        self.sc.setJobGroup(gid, phase)
        yield

    def finish(self) -> None:
        """Leave the last group and count every group's work."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = self.sc.statusTracker()
        for phase, gid in self._groups:
            jobs = list(tracker.getJobIdsForGroup(gid))
            stages = tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else ()):
                    stages += 1
                    st = tracker.getStageInfo(sid)
                    tasks += st.numTasks if st else 0
            self.log.append((phase, len(jobs), stages, tasks))
        self._groups = []

    def per_phase(self) -> dict:
        out: dict = {}
        for phase, j, s, t in self.log:
            row = out.setdefault(phase, {"calls": 0, "jobs": 0, "stages": 0, "tasks": 0})
            row["calls"] += 1
            row["jobs"] += j
            row["stages"] += s
            row["tasks"] += t
        return out

    def jobs_of(self, phase_prefix: str) -> list:
        return [j for p, j, _s, _t in self.log if p.startswith(phase_prefix)]


TOKENIZER_FNS = ("preprocess_query", "preprocess_boolean_query", "is_boolean_query")
READER_FNS = ("load_manifest", "load_stats", "live_postings", "live_docs", "live_tokens",
              "live_dictionary", "live_blocks", "live_df_lookup", "dictionary_sources")


@contextmanager
def patched(tracer: Tracer):
    """Route the operators' calls into ``functions.tokenizer`` and
    ``operators.reader`` through tracer spans; restore on exit."""
    if not tracer.enabled:
        yield
        return
    from elasticsearch_spark.functions import tokenizer
    from elasticsearch_spark.operators import multifield, query, reader, wand

    saved = []
    targets = [(m, n, "tokenizer." + n) for m in (tokenizer, query, wand, multifield)
               for n in TOKENIZER_FNS if hasattr(m, n)]
    targets += [(reader, n, "reader." + n) for n in READER_FNS]
    for mod, name, span in targets:
        fn = getattr(mod, name)
        saved.append((mod, name, fn))
        setattr(mod, name, tracer.wrap(span, fn))
    try:
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)
