"""The three workloads: ingest, interactive and batch.

Load shape for all three: one process, one client thread, closed loop
(the next operation starts when the previous one has returned and its
result has been collected).  Spark runs as ``local[nproc]``.

A run: session start; a preparation step (``ingest``: an untimed
warm-up build of a fixed corpus; ``interactive`` and ``batch``: build and save the index
they serve); ``SETUP_REPS`` repetitions of the set-up, whose median is
``setup_s`` (``ingest``: generate the rows and cache them as a
DataFrame; the others: load the saved index and answer a first query);
one untimed pass over each path (``ingest``: one operation); operations
in a closed loop until ``seconds`` have passed; then the oracle checks
every answer.

``interactive`` and ``batch`` serve one corpus, part 0 of the seed.
Each ``ingest`` operation indexes a corpus of its own (part 0 first, then
parts 1, 2, ...; see ``gen.part_seed``), generated and cached untimed
before the operation, as an index build meets text it has not seen.
Re-indexing one corpus would serve much of its analysis from the Python
workers' analyzer caches.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import statistics
import time
import traceback

from . import gen
from .oracle import Oracle
from .stats import percentile
from .trace import NullTracer, Tracer, covered, self_times

SCHEMA = "repo string, path string, commit string, lang string, content string"
ORDER = ["repo", "path"]
N_DOCS = 600            # corpus size of every workload (~0.9 MB of content)
SETUP_REPS = 5
BATCH = 100             # queries per search_many and per query_many call
K = 10
QUERY_KINDS = ("bm25", "boolean", "fuzzy", "phrase")


class Run:
    """State of one benchmark run."""

    def __init__(self, spark, workload: str, seed: int, seconds: float,
                 workdir: str, trace: bool):
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.workdir = workdir
        self.tracer = NullTracer()
        self._trace = Tracer(spark) if trace else None
        self.attempted = 0
        self.failed = 0
        self.phase_s: dict[str, float] = {}
        self.setup_times: list[float] = []
        self.ops: list[dict] = []          # measured operations
        self.pending: list[tuple] = []     # (part, kind, payload, result)
        self.stats_checks: list = []       # (part, n_docs, avgdl, dfs)
        self.rows: list[tuple] = []        # corpus part 0
        self.corpora: dict[int, list[tuple]] = {}    # part -> rows
        self.input_df = None
        self.index = None                  # the served (loaded) index
        self.index_part = 0                # the corpus part it indexes
        self.index_dir = None
        self.last_ingest_dir = None
        self._dirs = 0
        self.report: dict[str, tuple[float, str]] = {}
        self.asked: list[tuple[str, float, float]] = []   # traced queries

    def execute(self) -> None:
        """Prepare, set up, warm, measure, check.  A traced run traces
        the serving index build, the set-up and every other measured
        operation (the difference is the tracing overhead)."""
        t0 = time.perf_counter()
        if self.workload == "ingest":
            self.warmup()
        with self._traced():
            if self.workload != "ingest":
                self.prepare()
            self.phase_s["prepare_s"] = time.perf_counter() - t0
            self.setup()
        t0 = time.perf_counter()
        self.warm()
        self.phase_s["warm_s"] = time.perf_counter() - t0
        self.measure(self.seconds)
        if self.workload == "ingest":
            # the last loaded index answers one query of every other kind
            with self._traced(), self.tracer.operation("check"):
                part = self.index_part
                for kind, payload in self._checks("final", QUERY_KINDS[1:],
                                                  part):
                    self.pending.append((part, kind, payload,
                                         self._ask(self.index, kind,
                                                   payload)))
        if self._trace is not None:
            self._layer_sizes()
            self.analysis_rate = _analysis_rate(self.rows)
        t0 = time.perf_counter()
        self.check()
        self.phase_s["check_s"] = time.perf_counter() - t0

    @contextlib.contextmanager
    def _traced(self):
        """Spans on (wrappers installed) for the block, in traced runs."""
        if self._trace is None:
            yield
            return
        self.tracer = self._trace
        self._trace.install()
        try:
            yield
        finally:
            self._trace.uninstall()
            self.tracer = NullTracer()

    def _layer_sizes(self) -> None:
        path = self.index_dir or self.last_ingest_dir
        self.layer_sizes = {}
        for layer in ("postings", "positional"):
            d = os.path.join(path, layer)
            self.layer_sizes[f"{layer}.blocks"] = (
                self.spark.read.parquet(d).count(), "count")
            self.layer_sizes[f"{layer}.bytes"] = (_du(d), "B")

    # ----------------------------------------------------------- engine
    def _ask(self, idx, kind: str, payload):
        """One query through the engine, result collected."""
        tr = self.tracer
        t0 = time.perf_counter()
        if kind == "bm25":
            df = idx.search(payload, k=K)
        elif kind == "fuzzy":
            df = idx.search_fuzzy(payload, k=K)
        elif kind == "phrase":
            df = idx.phrase(payload)
        elif kind == "boolean":
            df = idx.query(gen.render(payload), k=K)
        elif kind == "search_many":
            df = idx.search_many(payload, k=K)
        else:
            df = idx.query_many({q: gen.render(t) for q, t in
                                 payload.items()}, k=K)
        res = tr.exec(df)
        if tr.enabled:
            self.asked.append((kind, t0, time.perf_counter()))
        return res

    def _input(self, rows):
        df = self.spark.createDataFrame(rows, SCHEMA).cache()
        df.count()
        return df

    def _build(self, docs_df, path: str):
        """build (positional) -> materialize -> save; returns the built
        index and the seconds it took."""
        from php_lucene_analyzer_spark.engine import FulltextIndex
        tr = self.tracer
        t0 = time.perf_counter()
        idx = FulltextIndex.build(self.spark, docs_df, ORDER,
                                  positional=True)
        with tr.span("postings.term_stats"):
            idx.tstats.count()
        with tr.span("positional.postings"):
            idx.positional.count()
        idx.save(path)
        return idx, time.perf_counter() - t0

    def _open(self, path: str, check):
        """load -> first query answered; returns the loaded index, the
        answer and the seconds it took."""
        from php_lucene_analyzer_spark.engine import FulltextIndex
        t0 = time.perf_counter()
        idx = FulltextIndex.load(self.spark, path)
        kind, payload = check
        answer = (kind, payload, self._ask(idx, kind, payload))
        return idx, answer, time.perf_counter() - t0

    def _keep_stats(self, idx, part: int) -> None:
        """Keep a loaded index's statistics for the oracle."""
        dfs = {r["term"]: int(r["df"])
               for r in idx.tstats.select("term", "df").collect()}
        self.stats_checks.append((part, idx.n_docs, idx.avgdl, dfs))

    def _checks(self, stream: str, kinds=QUERY_KINDS, part: int = 0) -> list:
        qg = gen.QueryGen(gen.part_seed(self.seed, part), self.corpora[part],
                          skewed=False, stream=stream)
        return [getattr(qg, k)() for k in kinds]

    def _next_input(self) -> tuple[int, list[tuple], object]:
        """The corpus part of the next ``ingest`` operation and its cached
        DataFrame: the set-up's for the first operation, then a newly
        generated part."""
        if self.input_df is not None:
            df, self.input_df = self.input_df, None
            return 0, self.rows, df
        part = len(self.corpora)
        rows = gen.corpus(gen.part_seed(self.seed, part), N_DOCS)
        self.corpora[part] = rows
        return part, rows, self._input(rows)

    # ------------------------------------------------------------ phases
    def warmup(self) -> None:
        """Start the Python workers and warm the JIT with one build
        cycle of a corpus of the same size (untimed, the same for every
        seed)."""
        self.rows = self.corpora[0] = gen.corpus(-1, N_DOCS)
        df = self._input(self.rows)
        path = self._dir("warmup")
        idx, _ = self._build(df, path)
        idx.close()
        self._open(path, self._checks("warmup", ("bm25",))[0])
        df.unpersist()
        shutil.rmtree(path, ignore_errors=True)

    def prepare(self) -> None:
        """Build and save the index that ``interactive`` and ``batch``
        serve (the run's first build: it also starts the workers)."""
        self.rows = self.corpora[0] = gen.corpus(self.seed, N_DOCS)
        df = self._input(self.rows)
        self.index_dir = self._dir("serve")
        with self.tracer.operation("prepare"):
            idx, self.phase_s["index_build_s"] = self._build(
                df, self.index_dir)
        idx.close()
        df.unpersist()

    def setup(self) -> None:
        for rep in range(SETUP_REPS):
            with self.tracer.operation("setup"):
                t0 = time.perf_counter()
                if self.workload == "ingest":
                    self.rows = self.corpora[0] = gen.corpus(self.seed,
                                                             N_DOCS)
                    if self.input_df is not None:
                        self.input_df.unpersist()
                    self.input_df = self._input(self.rows)
                else:
                    check = self._checks(f"setup{rep}", ("bm25",))[0]
                    self.index, answer, _ = self._open(self.index_dir, check)
                    self.pending.append((0, *answer))
                self.setup_times.append(time.perf_counter() - t0)
        if self.index is not None:
            self._keep_stats(self.index, 0)

    def _ops(self, stream: str):
        return {"ingest": self._ingest_ops,
                "interactive": self._interactive_ops,
                "batch": self._batch_ops}[self.workload](stream)

    def warm(self) -> None:
        """Run each query path of the workload once, untimed, on its own
        query stream: the first call of a path plans and compiles.
        ``ingest`` runs one operation, on the set-up's corpus: the first
        operation after the warm-up build was still the slowest."""
        if self.workload == "ingest":
            kinds = ("ingest",)
            op = self._ingest_ops("warm")
        elif self.workload == "interactive":
            # every query kind, and every boolean form (they cycle)
            kinds = ("bm25", "fuzzy", "phrase") + ("boolean",) * 5
            op = self._interactive_ops("warm", kinds)
        else:
            kinds = ("batch",)
            op = self._batch_ops("warm")
        for _ in kinds:
            next(op)("warm")

    def measure(self, seconds: float) -> None:
        """Closed loop until ``seconds`` have passed (the operation in
        flight at the deadline completes).  A traced run alternates
        untraced and traced rounds of the query-kind cycle, so both come
        from the same stream, every kind is traced, and no query is
        replayed."""
        period = len(QUERY_KINDS) if self.workload == "interactive" else 1
        op = self._ops("timed")
        deadline = time.perf_counter() + seconds
        for i in itertools.count():
            if self._trace is not None and (i // period) % 2:
                with self._traced():
                    next(op)("traced")
            else:
                next(op)("timed")
            # a traced run needs at least one traced round
            if time.perf_counter() >= deadline and (
                    self._trace is None or i >= 2 * period - 1):
                break

    def _record(self, label: str, kind: str, dt: float, items: int,
                **extra) -> None:
        self.ops.append({"label": label, "kind": kind, "s": dt,
                         "items": items, **extra})

    def _ingest_ops(self, stream: str):
        """One operation = build, materialize, save, load and answer a
        first check query, on a corpus part of its own."""
        while True:

            def op(label):
                part, rows, df = self._next_input()
                path = self._dir("ingest")
                check = self._checks(f"{stream}{part}", ("bm25",), part)[0]
                try:
                    with self.tracer.operation("ingest"):
                        built, build_s = self._build(df, path)
                        loaded, answer, open_s = self._open(path, check)
                except Exception:
                    traceback.print_exc()
                    self.attempted += 1
                    self.failed += 1
                    return
                finally:
                    df.unpersist()
                built.close()
                self._record(label, "ingest", build_s + open_s, N_DOCS,
                             build_s=build_s, open_s=open_s, bytes=_du(path),
                             input_bytes=_content_bytes(rows))
                self._keep_stats(loaded, part)
                self.pending.append((part, *answer))
                self.index, self.index_part = loaded, part
                if self.last_ingest_dir:
                    shutil.rmtree(self.last_ingest_dir, ignore_errors=True)
                self.last_ingest_dir = path
            yield op

    def _interactive_ops(self, stream: str, kinds=QUERY_KINDS):
        qg = gen.QueryGen(self.seed, self.rows, skewed=False,
                          stream=stream)
        for kind, payload in qg.mixed(kinds):

            def op(label, kind=kind, payload=payload):
                try:
                    with self.tracer.operation(kind):
                        t0 = time.perf_counter()
                        res = self._ask(self.index, kind, payload)
                        dt = time.perf_counter() - t0
                except Exception:
                    traceback.print_exc()
                    self.attempted += 1
                    self.failed += 1
                    return
                self._record(label, kind, dt, 1)
                self.pending.append((0, kind, payload, res))
            yield op

    def _batch_ops(self, stream: str):
        """One operation = ``search_many`` of BATCH disjunctions, then
        ``query_many`` of BATCH boolean trees (Zipf-skewed terms)."""
        qg = gen.QueryGen(self.seed, self.rows, skewed=True,
                          stream=f"batch-{stream}")
        trees = qg.mixed(("boolean",))
        while True:
            calls = [("search_many",
                      {f"q{i}": qg.bm25()[1] for i in range(BATCH)}),
                     ("query_many",
                      {f"q{i}": next(trees)[1] for i in range(BATCH)})]

            def op(label, calls=calls):
                try:
                    with self.tracer.operation("batch"):
                        t0 = time.perf_counter()
                        res = [self._ask(self.index, kind, payload)
                               for kind, payload in calls]
                        dt = time.perf_counter() - t0
                except Exception:
                    traceback.print_exc()
                    self.attempted += 2 * BATCH
                    self.failed += 2 * BATCH
                    return
                self._record(label, "batch", dt, 2 * BATCH)
                self.pending += [(0, kind, payload, r) for (kind, payload), r
                                 in zip(calls, res)]
            yield op

    def _dir(self, name: str) -> str:
        self._dirs += 1
        return os.path.join(self.workdir, "index", f"{name}-{self._dirs}")

    # ------------------------------------------------------------ checks
    def check(self) -> None:
        """Every answer against the oracle of its corpus part (after all
        timing)."""
        for part in sorted({c[0] for c in self.stats_checks + self.pending}):
            self._check_part(part)

    def _check_part(self, part: int) -> None:
        from php_lucene_analyzer_spark.analysis import analyze
        oracle = Oracle(self.corpora[part], analyze)
        for n_docs, avgdl, dfs in (c[1:] for c in self.stats_checks
                                   if c[0] == part):
            self._count(n_docs == oracle.n_docs and avgdl == oracle.avgdl
                        and dfs == oracle.df, f"index statistics, part {part}")
        for kind, payload, res in (c[1:] for c in self.pending
                                   if c[0] == part):
            if kind in ("search_many", "query_many"):
                by_q: dict[str, list] = {q: [] for q in payload}
                for r in res:
                    by_q[r["qid"]].append((r["doc_id"], r["score"]))
                for q, got in by_q.items():
                    got.sort(key=lambda x: (-x[1], x[0]))
                    sub = "bm25" if kind == "search_many" else "boolean"
                    self._count(self._answer_ok(oracle, sub, payload[q],
                                                got), f"{sub} {payload[q]}")
            else:
                got = [(r["doc_id"], r[1]) for r in res]
                self._count(self._answer_ok(oracle, kind, payload, got),
                            f"{kind} {payload}")

    def _count(self, ok: bool, what) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"MISMATCH: {what}", flush=True)

    @staticmethod
    def _answer_ok(oracle: Oracle, kind: str, payload, got) -> bool:
        if kind == "bm25":
            return oracle.same_exact(got, oracle.bm25(payload, K))
        if kind == "fuzzy":
            return oracle.same_exact(got, oracle.fuzzy(payload, K))
        if kind == "phrase":
            return {int(d) for d, _ in got} == oracle.phrase_docs(payload)
        return oracle.same_topk(got, oracle.boolean(payload), K)

    # ----------------------------------------------------------- metrics
    def end_to_end(self, rss_mb: float) -> dict:
        timed = [o for o in self.ops if o["label"] == "timed"]
        durs = [o["s"] for o in timed]
        m = {"setup_s": (statistics.median(self.setup_times), "s"),
             "op_p50_s": (statistics.median(durs), "s"),
             "peak_rss_mb": (rss_mb, "MB")}
        self.op_times = durs
        rep = {**{k: (v, "s") for k, v in self.phase_s.items()},
               "setup_s": m["setup_s"],
               "error_rate": (self.failed / max(self.attempted, 1), "ratio"),
               "peak_rss_mb": m["peak_rss_mb"]}
        if self.workload == "ingest":
            # docs over build seconds summed over the operations, as the
            # other workloads sum queries over answering seconds
            rate = (sum(o["items"] for o in timed)
                    / sum(o["build_s"] for o in timed))
            m["items_per_s"] = (rate, "1/s")
            rep["build_docs_per_s"] = (rate, "1/s")
            rep["index_bytes_per_input_byte"] = (
                timed[-1]["bytes"] / timed[-1]["input_bytes"], "ratio")
            rep["open_s"] = (statistics.median(o["open_s"] for o in timed),
                             "s")
        else:
            m["items_per_s"] = (sum(o["items"] for o in timed) / sum(durs),
                                "1/s")
        if self.workload == "interactive":
            rep["query_p50_s"] = m["op_p50_s"]
            p90 = percentile(durs, 0.9)
            rep["query_p90_s"] = (p90 if p90 is not None else float("nan"),
                                  "s")
            rep["query_samples"] = (len(durs), "count")
            for kind in QUERY_KINDS:
                ds = [o["s"] for o in timed if o["kind"] == kind]
                rep[f"{kind}_p50_s"] = (statistics.median(ds) if ds
                                        else float("nan"), "s")
        if self.workload == "batch":
            rep["batch_qps"] = m["items_per_s"]
        self.report = rep
        return m

    def per_layer(self) -> dict:
        """Per-layer metrics from the trace: every ``*_s`` is self time
        and every counter a sum, per traced operation that used the
        layer (set-up repetitions included)."""
        tr: Tracer = self._trace
        spans = tr.spans
        selft = self_times(spans)
        by_trace: dict[int, list] = {}
        for s in spans:
            by_trace.setdefault(s.trace, []).append(s)

        def per_op(select, value) -> float:
            vals = []
            for t, ss in by_trace.items():
                hit = [s for s in ss if select(s)]
                if hit:
                    vals.append(sum(value(s) for s in hit))
            return statistics.fmean(vals) if vals else 0.0

        m: dict[str, tuple[float, str]] = {}
        names = {
            "analysis.query_s": "analysis.query",
            "fulltext.with_doc_ids_s": "fulltext.with_doc_ids",
            "fulltext.expand_s": "fulltext.expand",
            "postings.index_corpus_s": "postings.index_corpus",
            "postings.term_stats_s": "postings.term_stats",
            "postings.write_s": "postings.write",
            "postings.read_s": "postings.read",
            "positional.postings_s": "positional.postings",
            "positional.phrase_s": "positional.phrase",
            "queryparser.parse_s": "queryparser.parse",
            "querycompile.compile_s": "querycompile.compile",
            "wand.plan_s": "wand.plan", "wand.exec_s": "wand.exec",
            "boolean.plan_s": "boolean.plan",
            "boolean.exec_s": "boolean.exec",
            "engine.save_s": "engine.save", "engine.load_s": "engine.load",
            "engine.exec_s": "engine.exec",
        }
        for metric, name in names.items():
            m[metric] = (per_op(lambda s, n=name: s.name == n,
                                lambda s: selft[id(s)]), "s")
        facade = {"engine." + x for x in ("build", "search", "search_many",
                                          "search_fuzzy", "query",
                                          "query_many", "phrase")}
        m["engine.self_s"] = (per_op(lambda s: s.name in facade,
                                     lambda s: selft[id(s)]), "s")
        m["fulltext.expand_jobs"] = (per_op(
            lambda s: s.name == "fulltext.expand",
            lambda s: s.counters.get("jobs", 0)), "count")
        for layer in ("fulltext", "postings", "positional", "wand",
                      "boolean", "engine"):
            sel = lambda s, la=layer: s.name.split(".")[0] == la
            for c, unit in (("jobs", "count"), ("tasks", "count"),
                            ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                            ("shuffle_bytes", "B"), ("spill_bytes", "B")):
                m[f"{layer}.{c}"] = (per_op(
                    sel, lambda s, c=c: s.counters.get(c, 0)), unit)
            m[f"{layer}.outside_jvm_cpu_s"] = (
                m[f"{layer}.executor_run_s"][0]
                - m[f"{layer}.executor_cpu_s"][0], "s")
        # per query type: Spark jobs per query and driver time outside jobs
        for kind in QUERY_KINDS:
            jobs, gaps = [], []
            for k2, q0, q1 in self.asked:
                if k2 != kind:
                    continue
                iv = [j for sp in spans if sp.start >= q0 and sp.end <= q1
                      for j in sp.jobs]
                jobs.append(len(iv))
                gaps.append((q1 - q0) - covered(
                    iv, tr.epoch(q0), tr.epoch(q1)))
            m[f"spark.jobs_per_query.{kind}"] = (
                statistics.median(jobs) if jobs else 0.0, "count")
            m[f"spark.driver_gap_s.{kind}"] = (
                statistics.median(gaps) if gaps else 0.0, "s")
        # coverage of the traced timed operations by named spans
        cov_num = cov_den = 0.0
        for kind, t, t0, t1 in tr.ops:
            if kind in ("prepare", "setup", "check"):
                continue
            tops = [(s.start, s.end) for s in by_trace.get(t, ())
                    if s.parent is None]
            cov_num += covered(tops, t0, t1)
            cov_den += t1 - t0
        m["traced_coverage"] = (cov_num / cov_den if cov_den else 0.0,
                                "ratio")
        # traced minus untraced operations, interleaved in one stream
        traced = [o["s"] for o in self.ops if o["label"] == "traced"]
        plain = [o["s"] for o in self.ops if o["label"] == "timed"]
        over = statistics.median(traced) - statistics.median(plain)
        m["trace.overhead_s"] = (over, "s")
        m["trace.overhead_ratio"] = (over / statistics.median(plain),
                                     "ratio")
        m.update(self.layer_sizes)
        m["analysis.docs_per_s"] = (self.analysis_rate, "1/s")
        return m


def _analysis_rate(rows: list[tuple], n: int = 200) -> float:
    """Docs per second of direct one-core ``analyze`` calls on the first
    ``n`` generated docs (median of three passes)."""
    from php_lucene_analyzer_spark.analysis import analyze
    texts = [r[4] for r in rows[:n]]
    rates = []
    for _ in range(3):
        t0 = time.perf_counter()
        for t in texts:
            analyze(t)
        rates.append(len(texts) / (time.perf_counter() - t0))
    return statistics.median(rates)


def _content_bytes(rows: list[tuple]) -> int:
    return sum(len(r[4].encode()) for r in rows)


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
