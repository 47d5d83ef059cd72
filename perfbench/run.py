"""End-to-end benchmark of the engine on a seeded synthetic Zipf corpus.

Run from the repository root:

    python3 perfbench/run.py --workload batch_serve --seed 1 --seconds 5 --trace 0

One run is one Python process issuing one call at a time (a closed loop
with one client) against a ``local[N]`` session, N = min(4, nproc). It goes
through the whole lifecycle a user of the engine pays for:

  set-up   start the Spark session, generate the corpus and queries
  timed    fresh-session Engine.build (materialized) → package_index + a
           warm-up batch → serving rounds for ``--seconds`` seconds; a
           round issues, per path, the workload's calls: saat_search on the
           package and Engine.search on the built engine
  checks   every output against reference.py, outside the timed phase

Engine.save and Engine.load run in traced runs only, after the timed phase:
in every run they would cost about 14 s, which the run budget of both
workloads cannot carry (README.md).

The workload sets the query mix, the anytime budget ρ and how many queries
one serving call carries. The last line of stdout is the result JSON; the
line before it holds the host sentinel, phase times and any failures.
``--trace 1`` reports per-layer numbers instead and writes its spans to
``.perfbench_out/``; see README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = REPO / ".perfbench_work"
OUT = REPO / ".perfbench_out"

# Per workload: query mix, anytime budget ρ, queries per saat_search call,
# queries per Engine.search call (the first ones of the saat call's) and
# calls per path in one serving round.
WORKLOADS = {
    # TREC-run regime: big batches of frequent terms at ρ=100%, so the SaaT
    # kernel and the declarative accumulate do most of the serving work
    "batch_serve": {"mix": "head", "rho": 1.0, "saat_queries": 2000, "decl_queries": 25,
                    "calls": 2},
    # jass anytime regime: one rare-term query per call at ρ=10%, so per-call
    # Spark planning and scheduling dominate and kernel changes should not show
    "interactive": {"mix": "tail", "rho": 0.1, "saat_queries": 1, "decl_queries": 1,
                    "calls": 2},
}
K = 10
QUERY_POOL = 30           # at least this many queries; calls cycle through the pool
WARM_TERMS = 200          # one-term head queries; they reach every package bucket
SEGMENT_SAMPLE = 24       # terms whose segment rows are compared
METRICS_SAMPLE = 50       # queries checked through search_metrics
TOKENIZER_SAMPLE = 500    # documents for the single-thread tokenizer reading
SETUP_REPEATS = 3         # input generation repeats; setup_s takes the median
DRIVER_MEMORY = "2g"
MAX_CORES = 4
QUERY_SCHEMA = "query_id string, query string"

TOP_SPANS = ("build", "package", "saat_call", "decl_call")
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "tokenizer.tokens_per_s": "tokens/s",
    "docids.assign_s": "s",
    "build.call_s": "s",
    "build.materialize_s": "s",
    "build.jobs": "count",
    "build.postings": "count",
    "build.segments": "count",
    "persist.save_s": "s",
    "persist.save_jobs": "count",
    "persist.bytes": "bytes",
    "persist.bytes_per_posting": "bytes",
    "persist.load_s": "s",
    "saat.package_write_s": "s",
    "saat.warm_batch_s": "s",
    "saat.buckets": "count",
    "saat.package_bytes": "bytes",
    "saat.kernel_us_p50": "us",
    "saat.kernel_us_p99": "us",
    "saat.postings_per_query": "postings",
    "saat.kernel_mpostings_per_s": "Mpostings/s",
    "saat.batch_overhead_s": "s",
    "saat.jobs_per_call": "count",
    "saat.tasks_per_call": "count",
    "search.batch_s": "s",
    "search.jobs_per_call": "count",
    "search.tasks_per_call": "count",
    "search.postings_per_query": "postings",
    "trace.timed_s": "s",
    "trace.overhead_s": "s",
    "trace.uncovered_s": "s",
    **{f"span.{n}_s": "s" for n in TOP_SPANS},
}


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _by_query(rows) -> dict[str, list[tuple]]:
    """query_id → [(doc_id, rsv, rank)] in rank order."""
    out: dict[str, list[tuple]] = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["rsv"], r["rank"]))
    for v in out.values():
        v.sort(key=lambda t: t[2])
    return out


def _canonical(ranked: list[tuple]) -> bool:
    """Ranks 1..n in (rsv DESC, doc_id DESC) order."""
    if [t[2] for t in ranked] != list(range(1, len(ranked) + 1)):
        return False
    keys = [(t[1], t[0]) for t in ranked]
    return all(a > b for a, b in zip(keys, keys[1:]))


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.w = WORKLOADS[workload]
        self.rho = self.w["rho"]
        self.cores = max(1, min(MAX_CORES, os.cpu_count() or 1))
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed_ops: list[str] = []
        self.problems: list[str] = []
        self.rounds = 0
        self.phase_s: dict[str, float] = {}
        self.call_s: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}
        self._ref_cache: dict[str, tuple] = {}

    def _op(self, name: str, ok: bool, why: str) -> None:
        """Count one operation; a wrong result counts it as failed."""
        self.attempted += 1
        if not ok:
            self.failed_ops.append(f"{name}: {why}")

    # -- session ------------------------------------------------------
    def start_session(self) -> None:
        from jassv2_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            cores=self.cores,
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": str(WORK / "spark-local"),
                "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        """Stop Spark, then wait for the JVM and every Python worker."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        from tracing import process_tree, wait_gone

        children = process_tree()[1:]
        proc = SparkContext._gateway.proc
        self.spark.stop()
        self.spark = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        left = wait_gone(children, timeout=30)
        for pid in left:
            os.kill(pid, 9)
        wait_gone(left, timeout=10)

    # -- the run ------------------------------------------------------
    def execute(self) -> dict:
        import pandas as pd

        from inputs import make_corpus, make_queries
        from tracing import Tracer, peak_rss_mb, process_tree

        # set-up: the session once (one JVM per process), then the inputs
        # SETUP_REPEATS times from the same seed, keeping the median
        t = time.perf_counter()
        self.start_session()
        session_s = time.perf_counter() - t
        spark = self.spark
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            corpus = make_corpus(self.seed)
            pool = make_queries(corpus, self.seed,
                                max(QUERY_POOL, self.w["saat_queries"] * self.w["calls"]),
                                self.w["mix"], "q")
            warm = [(f"w{i:05d}", str(w)) for i, w in enumerate(corpus.vocab[:WARM_TERMS])]
            docs_df = spark.createDataFrame(pd.DataFrame(
                {"url": corpus.urls, "text": corpus.texts, "doc_id": corpus.doc_id}))
            warm_df = spark.createDataFrame(warm, QUERY_SCHEMA)
            gen_s.append(time.perf_counter() - t)
        setup_s = session_s + _median(gen_s)
        self.layer["session.start_s"] = session_s

        from jassv2_spark.operators.saat import package_index, saat_search

        tracer = self.tracer = Tracer(spark.sparkContext, self.trace)
        t_timed = time.perf_counter()
        eng, n_segments = self._build(docs_df, tracer)
        build_s = time.perf_counter() - t_timed

        eng.set_postings_to_process_relative(self.rho * 100)

        pkg_dir = WORK / "package"
        t = time.perf_counter()
        with tracer.span("package"):
            with tracer.span("operators.saat.package_index"):
                pkg = package_index(eng.index, str(pkg_dir))
            t_warm = time.perf_counter()
            with tracer.span("operators.saat.saat_search"):
                warm_rows = saat_search(eng.index, warm_df, k=K, rho=self.rho, package=pkg).collect()
        t_done = time.perf_counter()
        package_s = t_done - t
        self.layer["saat.warm_batch_s"] = t_done - t_warm
        self.layer["saat.package_write_s"] = t_warm - t

        calls = []
        t_serve = time.perf_counter()
        while True:
            for _ in range(self.w["calls"]):
                calls.append(self._call_pair(len(calls), eng, pkg, pool, tracer))
            self.rounds += 1
            if time.perf_counter() - t_serve >= self.seconds:
                break
        t_end = time.perf_counter()
        timed_s = t_end - t_timed
        # tracing adds only its own bookkeeping to the calls it wraps, so
        # that time is the traced-minus-untraced wall time of the same calls
        self.layer["trace.overhead_s"] = tracer.overhead_s
        rss = peak_rss_mb(process_tree())

        # ---- checks, untimed ----------------------------------------
        from reference import Reference

        ref = Reference(corpus)
        postings = self._check_index(eng, n_segments, pkg, ref)
        self._check_rows("warm_batch", _by_query(warm_rows), warm, ref)
        for c in calls:
            self._check_call_pair(c, ref)
        metrics_postings = self._check_search_metrics(eng, pool[:METRICS_SAMPLE], ref)
        self.phase_s = {"setup": setup_s, "build": build_s, "package": package_s,
                        "serve": t_end - t_serve, "checks": time.perf_counter() - t_end}

        if self.trace:
            self._persist(eng, ref, calls[0])
            self._layers(tracer, calls, pkg, pkg_dir, postings, n_segments,
                         metrics_postings, timed_s, corpus, docs_df)
            return self.layer
        saat_s = [c["saat_s"] for c in calls]
        decl_s = [c["decl_s"] for c in calls]
        self.call_s = {"saat": saat_s, "decl": decl_s}
        return {
            "setup_s": (setup_s, "s"),
            "build_docs_per_s": (corpus.n_docs / build_s, "docs/s"),
            "package_s": (package_s, "s"),
            "saat_qps": (sum(len(c["saat_q"]) for c in calls) / sum(saat_s), "queries/s"),
            "decl_qps": (sum(len(c["decl_q"]) for c in calls) / sum(decl_s), "queries/s"),
            "anytime_call_ms": (1e3 * _median(decl_s), "ms"),
            "saat_call_ms": (1e3 * _median(saat_s), "ms"),
            "peak_rss_mb": (rss, "MB"),
        }

    def _build(self, docs_df, tracer):
        """Fresh-session build through its first action over the segment
        table. Traced runs split it into its public parts."""
        from jassv2_spark import Engine
        from jassv2_spark.operators.build import build_index

        with tracer.span("build"):
            if not self.trace:
                eng = Engine.build(docs_df, key_col="url", doc_id_col="doc_id")
                return eng, eng.index.segments.count()
            t = time.perf_counter()
            with tracer.span("operators.build.build_index"):
                index = build_index(docs_df, key_col="url", doc_id_col="doc_id")
            self.layer["build.call_s"] = time.perf_counter() - t
            t = time.perf_counter()
            with tracer.span("operators.build.materialize"):
                n_segments = index.segments.count()
            self.layer["build.materialize_s"] = time.perf_counter() - t
            return Engine(index), n_segments

    def _call_pair(self, n: int, eng, pkg, pool, tracer) -> dict:
        """Call ``n`` on each path: saat_search (saat_search_stats when
        traced) on the package, then Engine.search. Both start at the same
        query, so their rows can be compared."""
        from jassv2_spark.operators.saat import saat_search, saat_search_stats

        spark = self.spark
        start = (n * self.w["saat_queries"]) % len(pool)
        saat_q = (pool + pool)[start:start + self.w["saat_queries"]]
        decl_q = saat_q[:self.w["decl_queries"]]
        saat_df = spark.createDataFrame(saat_q, QUERY_SCHEMA)
        decl_df = spark.createDataFrame(decl_q, QUERY_SCHEMA)
        out = {"n": n, "saat_q": saat_q, "decl_q": decl_q}

        t = time.perf_counter()
        with tracer.span("saat_call", f"c{n}.saat"):
            if self.trace:
                with tracer.span("operators.saat.saat_search_stats"):
                    out["saat_stats"] = saat_search_stats(
                        eng.index, saat_df, k=K, rho=self.rho, package=pkg).collect()
            else:
                with tracer.span("operators.saat.saat_search"):
                    out["saat_rows"] = saat_search(
                        eng.index, saat_df, k=K, rho=self.rho, package=pkg).collect()
        out["saat_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("decl_call", f"c{n}.decl"), tracer.span("operators.search.search"):
            out["decl_rows"] = eng.search(decl_df, k=K).collect()
        out["decl_s"] = time.perf_counter() - t
        return out

    # -- checks -------------------------------------------------------
    def _expected(self, ref, text: str) -> tuple:
        if text not in self._ref_cache:
            self._ref_cache[text] = ref.search(text, K, self.rho)
        return self._ref_cache[text]

    def _rows_ok(self, got: list[tuple], text: str, ref) -> bool:
        ranked, _, _ = self._expected(ref, text)
        want = [(d, rsv, rank) for rank, (d, rsv) in enumerate(ranked, start=1)]
        return got == want and _canonical(got)

    def _check_rows(self, op: str, got: dict, queries, ref) -> None:
        bad = [q for q, text in queries if not self._rows_ok(got.get(q, []), text, ref)]
        self._op(op, not bad, f"{len(bad)} queries differ, e.g. {bad[:3]}")

    def _check_index(self, eng, n_segments, pkg, ref) -> int:
        from pyspark.sql import functions as F

        idx = eng.index
        postings = int(idx.term_stats.agg(F.sum("df")).collect()[0][0])
        present = [w for w, t in ref.term_id.items() if ref.df[t]]
        step = max(1, len(present) // SEGMENT_SAMPLE)
        sample = present[:SEGMENT_SAMPLE // 3] + present[::step][:SEGMENT_SAMPLE - SEGMENT_SAMPLE // 3]
        got: dict[str, list] = {}
        for r in idx.segments.where(F.col("term").isin(sample)).select(
                "term", "impact", "doc_ids").collect():
            got.setdefault(r["term"], []).append((r["impact"], list(r["doc_ids"])))
        rows_ok = all(sorted(got.get(w, [])) == [(i, d.tolist()) for i, d in ref.segments(w)]
                      for w in sample)
        stats = (idx.n_docs, idx.collection_length, idx.min_rsv, idx.max_rsv)
        want = (ref.n_docs, ref.collection_length, ref.min_rsv, ref.max_rsv)
        self._op("build", stats == want and postings == ref.n_postings
                 and n_segments == ref.n_segments and rows_ok,
                 f"stats={stats} postings={postings} segments={n_segments} rows_ok={rows_ok}")
        self._op("package", (pkg["n_postings"], pkg["max_doc"]) == (ref.n_postings, ref.n_docs),
                 f"postings={pkg['n_postings']} max_doc={pkg['max_doc']}")
        return postings

    def _check_call_pair(self, c: dict, ref) -> None:
        """Rows equal the reference, and the declarative rows equal the
        SaaT rows for the same queries."""
        n = c["n"]
        checked = c["decl_q"]  # the saat call's first queries
        if "saat_rows" in c:
            saat = _by_query(c["saat_rows"])
            ok = all(map(_canonical, saat.values())) and all(
                self._rows_ok(saat.get(q, []), text, ref) for q, text in checked)
            self._op(f"saat_call{n}", ok, "rows differ from the reference")
        else:
            got = {s["query_id"]: (s["postings_processed"], s["n_results"]) for s in c["saat_stats"]}
            want = {q: (self._expected(ref, t)[1], len(self._expected(ref, t)[0])) for q, t in checked}
            self._op(f"saat_call{n}", all(got.get(q) == v for q, v in want.items()),
                     "postings processed or result counts differ")
        decl = _by_query(c["decl_rows"])
        ok = all(ref.url_of[r["doc_id"]] == r["key"] for r in c["decl_rows"]) and all(
            self._rows_ok(decl.get(q, []), text, ref) for q, text in checked)
        if "saat_rows" in c:
            ok = ok and all(decl.get(q) == saat.get(q) for q, _ in checked)
        self._op(f"decl_call{n}", ok, "rows differ")

    def _check_search_metrics(self, eng, queries, ref) -> float:
        """search_metrics: processed postings equal the reference and stay
        within ⌊ρ × query postings⌋. Returns the mean postings processed
        per query."""
        qdf = self.spark.createDataFrame(queries, QUERY_SCHEMA)
        with self.tracer.span("check.search_metrics"):
            rows = {r["query_id"]: r for r in eng.search_metrics(qdf).collect()}
        processed = []
        for qid, text in queries:
            _, want, total = self._expected(ref, text)
            r = rows.get(qid)
            got, got_total = (r["postings_processed"], r["total_postings"]) if r else (0, total)
            processed.append(got)
            if got != want or got_total != total or got > int(total * self.rho):
                self.problems.append(f"search_metrics {qid}: {got}/{got_total}, want {want}/{total}")
        return sum(processed) / len(processed)

    # -- per-layer numbers (traced runs) --------------------------------
    def _persist(self, eng, ref, call: dict) -> None:
        """Engine.save and Engine.load, then the loaded index must return
        the in-memory index's rows for the first call's queries."""
        from jassv2_spark import Engine

        tracer, L = self.tracer, self.layer
        save_dir = WORK / "index"
        t = time.perf_counter()
        with tracer.span("save"), tracer.span("plans.persist.save_index_tables"):
            eng.save(str(save_dir))
        L["persist.save_s"] = time.perf_counter() - t
        L["persist.bytes"] = _dir_bytes(save_dir)
        L["persist.bytes_per_posting"] = L["persist.bytes"] / ref.n_postings
        t = time.perf_counter()
        with tracer.span("load"), tracer.span("plans.persist.load_index_tables"):
            loaded = Engine.load(self.spark, str(save_dir))
        L["persist.load_s"] = time.perf_counter() - t
        loaded.set_postings_to_process_relative(self.rho * 100)
        qdf = self.spark.createDataFrame(call["decl_q"], QUERY_SCHEMA)
        with tracer.span("check.loaded_search"):
            rows = loaded.search(qdf, k=K).collect()
        li = loaded.index
        stats = (li.n_docs, li.collection_length, li.min_rsv, li.max_rsv)
        if stats != (ref.n_docs, ref.collection_length, ref.min_rsv, ref.max_rsv) or \
                _by_query(rows) != _by_query(call["decl_rows"]):
            self.problems.append("the loaded index differs from the in-memory one")

    def _layers(self, tracer, calls, pkg, pkg_dir, postings, n_segments,
                metrics_postings, timed_s, corpus, docs_df) -> None:
        from jassv2_spark.functions.tokenizer import tokenize
        from jassv2_spark.sources.docids import assign_doc_ids

        L = self.layer
        # the build takes its ids from the input (README.md says why), so
        # the id-assignment layer is read on its own, on the same documents
        t = time.perf_counter()
        with tracer.span("sources.docids.assign_doc_ids"):
            assign_doc_ids(docs_df.drop("doc_id"), key_col="url").count()
        L["docids.assign_s"] = time.perf_counter() - t
        tracer.resolve_counts()

        texts = corpus.texts[:TOKENIZER_SAMPLE]
        t = time.perf_counter()
        toks = [tokenize(x, xml=True) for x in texts]
        L["tokenizer.tokens_per_s"] = sum(map(len, toks)) / (time.perf_counter() - t)
        if toks != [x.split() for x in texts]:
            self.problems.append("tokenizer output differs from the generated words")

        L["build.jobs"] = tracer.totals(tracer.top_level("build")[0], "jobs")
        L["build.postings"] = postings
        L["build.segments"] = n_segments
        L["persist.save_jobs"] = tracer.totals(tracer.top_level("save")[0], "jobs")
        L["saat.buckets"] = pkg["n_buckets"]
        L["saat.package_bytes"] = _dir_bytes(pkg_dir)

        stats = [s for c in calls for s in c["saat_stats"]]
        usec = [s["usec"] for s in stats]
        done = [s["postings_processed"] for s in stats]
        L["saat.kernel_us_p50"] = _median(usec)
        # the 99th percentile needs ten samples beyond it; else the median stands
        L["saat.kernel_us_p99"] = (statistics.quantiles(usec, n=100, method="inclusive")[98]
                                   if len(usec) >= 1000 else _median(usec))
        L["saat.postings_per_query"] = sum(done) / len(done)
        L["saat.kernel_mpostings_per_s"] = sum(done) / max(1, sum(usec))
        L["saat.batch_overhead_s"] = _median(
            [c["saat_s"] - sum(s["usec"] for s in c["saat_stats"]) / 1e6 / self.cores
             for c in calls])
        saat_spans, decl_spans = tracer.top_level("saat_call"), tracer.top_level("decl_call")
        L["saat.jobs_per_call"] = _median([tracer.totals(s, "jobs") for s in saat_spans])
        L["saat.tasks_per_call"] = _median([tracer.totals(s, "tasks") for s in saat_spans])
        L["search.batch_s"] = _median([c["decl_s"] for c in calls])
        L["search.jobs_per_call"] = _median([tracer.totals(s, "jobs") for s in decl_spans])
        L["search.tasks_per_call"] = _median([tracer.totals(s, "tasks") for s in decl_spans])
        L["search.postings_per_query"] = metrics_postings

        # top-level spans cover the timed phase; what they leave is the
        # benchmark's own glue between calls
        L["trace.timed_s"] = timed_s
        for name in TOP_SPANS:
            L[f"span.{name}_s"] = sum(s["end"] - s["start"] for s in tracer.top_level(name))
        L["trace.uncovered_s"] = timed_s - sum(L[f"span.{n}_s"] for n in TOP_SPANS)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    # the engine comes from the checkout this file sits in; without it the
    # run stops here, before anything is started or printed
    sys.path.insert(0, str(REPO))
    import jassv2_spark  # noqa: F401

    import tracing

    # every file Spark, the JVM and the Python workers write stays in WORK
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        (WORK / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(REPO), str(HERE)] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else []))
    import tempfile

    tempfile.tempdir = str(WORK / "tmp")
    startup_s = time.perf_counter() - t_start

    sentinel_before = tracing.host_sentinel()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        values = run.execute()
        if args.trace:
            OUT.mkdir(exist_ok=True)
            run.tracer.write(str(OUT / f"spans_{args.workload}_seed{args.seed}.jsonl"))
    finally:
        t = time.perf_counter()
        run.stop_session()
        shutil.rmtree(WORK, ignore_errors=True)
        run.phase_s["stop"] = time.perf_counter() - t
    sentinel_after = tracing.host_sentinel()

    if args.trace:
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": run.cores,
        "host_sentinel_s": {"before": sentinel_before, "after": sentinel_after},
        "rounds": run.rounds,
        "phase_s": {"startup": startup_s, **run.phase_s},
        "call_s": run.call_s,
        "failed_ops": run.failed_ops,
        "problems": run.problems,
        "self_s": run.tracer.self_times() if args.trace else None,
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not run.failed_ops and not run.problems,
        "attempted": run.attempted,
        "failed": len(run.failed_ops),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
