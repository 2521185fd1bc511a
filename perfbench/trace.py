"""Spans around calls into the engine's modules, with Spark counters.

Tracing is done entirely from the benchmark: ``install`` rebinds module
and class attributes to wrappers that open a span around each call and
``uninstall`` puts the originals back.  Nothing in the package changes.

A span records its name, start, end, parent and trace id (one trace per
benchmark operation).  Every span runs its Spark jobs under its own job
group; when an operation ends, ``harvest`` reads the jobs of each group
and their stages from the JVM status store (which works with the UI
off): job count, tasks, executor run and CPU time, shuffle and spill
bytes, and each job's submission and completion time.

Spark evaluates lazily, so a layer's work often runs in a later action.
Two rules keep the attribution honest:

* a DataFrame returned by a wrapped call is tagged with its layer, and
  the benchmark's own action on it (``exec``) is a span of that layer
  (``wand.exec``, ``boolean.exec``; phrase results count as
  ``positional.phrase``); an untagged result is ``engine.exec``;
* ``corpus_stats_from_postings`` is the first action on the fused
  posting build, so its span is named ``postings.index_corpus``.
"""

from __future__ import annotations

import contextlib
import functools
import math
import time

from pyspark.sql import DataFrame

_PKG = "php_lucene_analyzer_spark"

# (module, attribute, span name).  ``engine`` imports these names at
# module top, so they are rebound on ``engine``; names imported inside
# engine methods are rebound on their defining module.  ``analyze`` is
# rebound only where it runs on the driver: a wrapper captured by a Spark
# worker closure would be shipped to the workers.
FUNCTIONS = [
    ("engine", "analyze", "analysis.query"),
    ("operators.wand", "analyze", "analysis.query"),
    ("operators.fulltext", "with_doc_ids", "fulltext.with_doc_ids"),
    ("operators.fulltext", "expand_specs", "fulltext.expand"),
    ("engine", "index_corpus", "postings.index_corpus"),
    ("engine", "corpus_stats_from_postings", "postings.index_corpus"),
    ("engine", "term_stats_from_postings", "postings.term_stats"),
    ("engine", "write_postings", "postings.write"),
    ("operators.postings", "read_postings", "postings.read"),
    ("engine", "positional_postings", "positional.postings"),
    ("engine", "phrase_match", "positional.phrase"),
    ("operators.positional", "phrase_match_many", "positional.phrase"),
    ("queryparser", "parse_query", "queryparser.parse"),
    ("querycompile", "compile_query", "querycompile.compile"),
    ("engine", "wand_topk_terms", "wand.plan"),
    ("engine", "wand_topk_many", "wand.plan"),
    ("operators.boolean", "boolean_tree_topk", "boolean.plan"),
    ("operators.boolean", "boolean_tree_topk_many", "boolean.plan"),
]
ENGINE_METHODS = ["build", "save", "load", "search", "search_many",
                  "search_fuzzy", "query", "query_many", "phrase"]
CLASSMETHODS = {"build", "load"}

# exec span name for a result tagged with a layer
EXEC_NAME = {"wand": "wand.exec", "boolean": "boolean.exec",
             "positional": "positional.phrase"}


class Span:
    __slots__ = ("name", "start", "end", "parent", "trace", "group",
                 "counters", "jobs")

    def __init__(self, name, start, parent, trace, group):
        self.name, self.start, self.parent = name, start, parent
        self.trace, self.group = trace, group
        self.end = None
        self.counters: dict[str, float] = {}
        self.jobs: list[tuple[float, float]] = []   # (submit, done) epoch s


class NullTracer:
    """Stand-in for untraced runs: spans cost one no-op context."""

    enabled = False

    def span(self, name):
        return contextlib.nullcontext()

    def operation(self, kind):
        return contextlib.nullcontext()

    def exec(self, df: DataFrame):
        return df.collect()


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self.spans: list[Span] = []
        self.ops: list[tuple[str, int, float, float]] = []  # kind, trace, t0, t1
        self._stack: list[Span] = []
        self._trace = 0
        self._seen_stages: set[int] = set()
        self._saved: list[tuple] = []
        # perf_counter -> epoch seconds, to line spans up with job times
        self._epoch = time.time() - time.perf_counter()

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{len(self.spans)}"
        s = Span(name, time.perf_counter(), parent, self._trace, group)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def operation(self, kind: str):
        """One benchmark operation = one trace; counters are harvested
        when it ends (outside the operation's timing)."""
        self._trace += 1
        first = len(self.spans)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.ops.append((kind, self._trace, t0, t1))
            self.harvest(self.spans[first:])

    def exec(self, df: DataFrame):
        layer = getattr(df, "_perfbench_layer", None)
        with self.span(EXEC_NAME.get(layer, "engine.exec")):
            return df.collect()

    # -------------------------------------------------------- wrapping
    def _wrap(self, fn, name: str):
        layer = name.split(".")[0]
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            # the innermost layer that produced the result owns its exec
            if isinstance(out, DataFrame) and \
                    getattr(out, "_perfbench_layer", None) is None:
                out._perfbench_layer = layer
            return out
        return wrapper

    def install(self) -> None:
        import importlib

        from php_lucene_analyzer_spark.engine import FulltextIndex
        for mod, attr, name in FUNCTIONS:
            m = importlib.import_module(f"{_PKG}.{mod}")
            orig = getattr(m, attr)
            self._saved.append((m, attr, orig))
            setattr(m, attr, self._wrap(orig, name))
        for meth in ENGINE_METHODS:
            raw = FulltextIndex.__dict__[meth]
            self._saved.append((FulltextIndex, meth, raw))
            if meth in CLASSMETHODS:
                setattr(FulltextIndex, meth,
                        classmethod(self._wrap(raw.__func__,
                                               f"engine.{meth}")))
            else:
                setattr(FulltextIndex, meth,
                        self._wrap(raw, f"engine.{meth}"))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # --------------------------------------------------------- counters
    def harvest(self, spans: list[Span]) -> None:
        """Read each span's jobs and stages from the status store.  A
        stage reused by a later job is counted once, in the span that
        first ran it."""
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        for s in spans:
            c = dict.fromkeys(("jobs", "tasks", "executor_run_s",
                               "executor_cpu_s", "shuffle_bytes",
                               "spill_bytes"), 0.0)
            for jid in tracker.getJobIdsForGroup(s.group):
                job = self._store.job(jid)
                c["jobs"] += 1
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    s.jobs.append((sub.get().getTime() / 1000.0,
                                   done.get().getTime() / 1000.0))
                ids = job.stageIds()
                for i in range(ids.length()):
                    sid = ids.apply(i)
                    if sid in self._seen_stages:
                        continue
                    try:
                        st = self._store.lastStageAttempt(sid)
                    except Py4JJavaError:
                        continue            # never submitted (skipped)
                    if st.status().toString() != "COMPLETE":
                        continue
                    self._seen_stages.add(sid)
                    c["tasks"] += st.numCompleteTasks()
                    c["executor_run_s"] += st.executorRunTime() / 1e3
                    c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    c["shuffle_bytes"] += (st.shuffleReadBytes()
                                           + st.shuffleWriteBytes())
                    c["spill_bytes"] += (st.memoryBytesSpilled()
                                         + st.diskBytesSpilled())
            s.counters = c

    def epoch(self, t: float) -> float:
        return t + self._epoch


# ------------------------------------------------------------ analysis
def covered(intervals, lo: float = -math.inf, hi: float = math.inf) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(a, lo), min(b, hi)) for a, b in intervals
                       if b > lo and a < hi):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(id(s.parent), []).append((s.start, s.end))
    return {id(s): (s.end - s.start) - covered(kids.get(id(s), []))
            for s in spans}
