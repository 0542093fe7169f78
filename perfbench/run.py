"""KG-engine benchmark: one seeded command per workload.

    python3 perfbench/run.py --workload crawl_short --seed 1 --seconds 12 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``crawl_short``: ``TriplesPipeline.run`` over many ~650 B pages and a
  ~20-term ontology, into a long-lived ``ParquetCatalog`` warehouse;
- ``crawl_long``: the same entry point over ~20 KB pages and a 20k-term
  ontology;
- ``resolve_interactive``: one client calling ``Resolver.resolve`` in a
  closed loop over the 20k-term ontology.

The command generates its inputs from ``--seed`` (``gen.py``), sets the
engine up several times (session once, then ingest + warehouse or resolver
init + warm-up per repetition), then repeats the workload's operation for
``--seconds`` seconds. After every operation, outside the timed region,
the output is checked against ``oracle.py``; a mismatch counts as a failed
operation and makes the command exit 1.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, and the
spans and per-operation Spark records go to
``.perfbench_out/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import pickle
import random
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import gen
import oracle
from tracing import StageReader, Tracer, covered_seconds

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_short", "crawl_long", "resolve_interactive")
SETUP_REPEATS = 3
# crawl runs before timing: the first spawns the Python workers and fills
# the embedding cache, the second runs with both warm
WARMUP_RUNS = 2
N_BUCKETS = 16  # the ``cli triples`` default
TERMS_TABLE = "ontology_terms_bench"
MIN_OPS = 3
CHECK_PAGES = {"crawl_short": 300, "crawl_long": 100}
LAYER_SAMPLE_PAGES = 300

END_TO_END = {
    "setup_s": ("s", "lower"),
    "docs_per_s": ("docs/s", "higher"),
    "triples_per_s": ("triples/s", "higher"),
    "latency_p50_ms": ("ms", "lower"),
    "driver_peak_rss_mb": ("MB", "lower"),
}

# name -> (unit, better, workloads it is measured on)
_CRAWL = ("crawl_short", "crawl_long")
_ALL = WORKLOADS
PER_LAYER = {
    "session.start_s": ("s", "lower", _ALL),
    "ontology.ingest_s": ("s", "lower", _ALL),
    "ontology.terms": ("count", "higher", _ALL),
    "embed_cache.misses": ("count", "lower", _CRAWL),
    "triples.plan_build_s": ("s", "lower", _CRAWL),
    "mentions.automaton_build_s": ("s", "lower", _CRAWL),
    "mentions.broadcast_mb": ("MB", "lower", _CRAWL),
    "mentions.scan_ms_per_page": ("ms", "lower", _CRAWL),
    "mentions.hit_page_ratio": ("ratio", "higher", _CRAWL),
    "extract.ms_per_page": ("ms", "lower", _CRAWL),
    "extract.fallback_ratio": ("ratio", "lower", _CRAWL),
    "embed.ms_per_page": ("ms", "lower", _CRAWL),
    "embed.query_ms": ("ms", "lower", ("resolve_interactive",)),
    "stage_scan.executor_s": ("s", "lower", _CRAWL),
    "stage_scan.wall_s": ("s", "lower", _CRAWL),
    "stage_scan.task_skew": ("ratio", "lower", _CRAWL),
    "stage_rerank.shuffle_write_mb": ("MB", "lower", _CRAWL),
    "stage_rerank.shuffle_read_mb": ("MB", "lower", _CRAWL),
    "stage_rerank.executor_s": ("s", "lower", _CRAWL),
    "stage_catalog.jobs_per_run": ("count", "lower", _CRAWL),
    "stage_catalog.executor_s": ("s", "lower", _CRAWL),
    "spark.jobs_per_run": ("count", "lower", _ALL),
    "spark.tasks_per_run": ("count", "lower", _ALL),
    "pipeline.write_s": ("s", "lower", _CRAWL),
    "pipeline.commit_s": ("s", "lower", _CRAWL),
    "pipeline.files_written": ("count", "lower", _CRAWL),
    "pipeline.run_drift_ratio": ("ratio", "lower", _CRAWL),
    "catalog.log_files": ("count", "lower", _CRAWL),
    "resolve.init_s": ("s", "lower", ("resolve_interactive",)),
    "resolve.candidates_ms": ("ms", "lower", ("resolve_interactive",)),
    "resolve.tail_ms": ("ms", "lower", ("resolve_interactive",)),
    "trace.overhead_ratio": ("ratio", "lower", _ALL),
    "failed_ratio": ("ratio", "lower", _ALL),
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(durations: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. Below 21 samples that percentile is under the
    median, so the median is reported instead (percentile 50)."""
    d = sorted(durations)
    n = len(d)
    if n < 21:
        return median(d), 50.0, n
    i = n - 11
    return d[i], 100.0 * (i + 1) / n, n


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer(trace)
        self.spark = None
        self._jvm_proc = None
        self.layer: dict[str, float] = {}
        self.records: list[dict] = []  # per traced op: spark figures
        # crawl runs take seconds, so a full collection between them costs
        # little; resolve calls take ~40 ms, so there it would dominate
        self.collect_between_ops = workload != "resolve_interactive"

    # ------------------------------------------------------------ plumbing
    def start_session(self) -> float:
        from pyspark import SparkContext

        from biocurator_mapper_spark.session import get_spark

        local = os.path.join(self.work, "spark-local")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        cpus = min(4, len(os.sched_getaffinity(0)))
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name="perfbench",
                master=f"local[{cpus}]",
                extra={
                    "spark.driver.memory": "2g",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": local,
                    "spark.driver.extraJavaOptions": java_opts,
                },
            )
        dt = time.perf_counter() - t0
        self._jvm_proc = getattr(SparkContext._gateway, "proc", None)
        self.spark.sparkContext.setLogLevel("FATAL")
        return dt

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        proc, self._jvm_proc = self._jvm_proc, None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — make sure it is gone
                proc.kill()
                proc.wait(timeout=30)

    def ingest(self, warehouse: str):
        """``cli ingest``'s path: read_obo_graph → parse_terms → catalog."""
        from biocurator_mapper_spark.ontology import nodes_from_obo_graph, parse_terms
        from biocurator_mapper_spark.sources.catalog import ParquetCatalog
        from biocurator_mapper_spark.sources.obo_json import read_obo_graph

        with self.tracer.span("ontology.ingest"):
            catalog = ParquetCatalog(self.spark, warehouse)
            with self.tracer.span("sources.obo_json.read_obo_graph"):
                obo = read_obo_graph(self.spark, self.inputs.ontology_path)
            with self.tracer.span("ontology.parse_terms"):
                terms = parse_terms(nodes_from_obo_graph(obo))
            with self.tracer.span("catalog.write_replace"):
                catalog.write_replace(terms, TERMS_TABLE)
            terms = catalog.read(TERMS_TABLE)
        return catalog, terms

    # --------------------------------------------------------------- setup
    def setup_once(self, rep: int) -> dict:
        """Ingest into a fresh warehouse, plus ``Resolver`` init for the
        interactive workload; returns the timed parts."""
        warehouse = os.path.join(self.work, f"warehouse{rep}")
        parts = {}
        t = time.perf_counter()
        self.catalog, self.terms = self.ingest(warehouse)
        parts["ingest_s"] = time.perf_counter() - t
        if self.workload == "resolve_interactive":
            from biocurator_mapper_spark.pipeline.resolve import Resolver

            t = time.perf_counter()
            with self.tracer.span("pipeline.resolve.Resolver.__init__"):
                self.resolver = Resolver(self.terms)
            parts["init_s"] = time.perf_counter() - t
            t = time.perf_counter()
            for p in self.inputs.passages[:3]:
                with self.tracer.span("pipeline.resolve.Resolver.resolve", warmup=True):
                    self.resolver.resolve(p)
            parts["warmup_s"] = time.perf_counter() - t
        parts["total_s"] = sum(parts.values())
        return parts

    def warm_up_crawl(self) -> list[float]:
        """``WARMUP_RUNS`` pipeline runs over the pages, into the warehouse
        the timed runs use."""
        from biocurator_mapper_spark.pipeline.triples import TriplesPipeline

        self.pipe = TriplesPipeline(self.catalog, n_buckets=N_BUCKETS)
        self.pages = self.spark.read.parquet(self.inputs.pages_path)
        times = []
        for w in range(WARMUP_RUNS):
            t = time.perf_counter()
            with self.tracer.span("pipeline.triples.TriplesPipeline.run", warmup=True):
                self.pipe.run(self.pages, self.terms, run_fingerprint=f"warmup{w}", run_id=f"w{w}")
            times.append(time.perf_counter() - t)
        return times

    # ----------------------------------------------------------- the loop
    def timed_loop(self, op, check, docs_per_op) -> dict:
        """Run ``op(i)`` until ``seconds`` have passed. In a traced run
        every other operation is traced (spans plus status-store reads), so
        the untraced ones give the tracing overhead in the same process."""
        reader = StageReader(self.spark) if self.trace else None
        durs, traced_durs, plain_durs = [], [], []
        docs = triples = attempted = failed = 0
        deadline = time.perf_counter() + self.seconds
        i = 0
        while time.perf_counter() < deadline or i < MIN_OPS:
            traced = self.trace and i % 2 == 1
            self.tracer.enabled = traced
            self.tracer.op_id = f"op{i}"
            mark = reader.last_job_id() if traced else None
            if self.collect_between_ops:
                gc.collect()  # start every run from the same heap state
            attempted += 1
            wall0 = time.time()
            t0 = time.perf_counter()
            try:
                with self.tracer.span(self.op_name, op=i):
                    res = op(i)
                dt = time.perf_counter() - t0
            except Exception:  # noqa: BLE001 — a raising op counts as failed
                traceback.print_exc()
                failed += 1
                i += 1
                continue
            wall1 = time.time()
            end_mark = reader.last_job_id() if traced else None
            self.tracer.enabled = False
            try:
                n_out = check(i, res)
            except Exception:  # noqa: BLE001 — a failed check counts as failed
                traceback.print_exc()
                n_out = None
            if n_out is None:
                failed += 1
            else:
                durs.append(dt)
                docs += docs_per_op
                triples += n_out
                (traced_durs if traced else plain_durs).append(dt)
                if traced:
                    self.records.append(
                        {"op": i, "t0": wall0, "t1": wall1, "jobs": reader.between(mark, end_mark)}
                    )
            i += 1
        self.tracer.enabled = self.trace
        return {
            "durations": durs,
            "traced": traced_durs,
            "plain": plain_durs,
            "docs": docs,
            "triples": triples,
            "attempted": attempted,
            "failed": failed,
            "reader": reader,
        }

    # ------------------------------------------------------------ crawl ops
    def crawl_loop(self) -> dict:
        from pyspark.sql import functions as F

        rng = random.Random(self.seed)
        pages = self.inputs.pages
        sample = rng.sample(pages, min(CHECK_PAGES[self.workload], len(pages)))
        t = time.perf_counter()
        expected = {p.url: self.oracle.expected(p.expected_extract or p.text) for p in sample}
        log(f"oracle: {len(sample)} pages in {time.perf_counter() - t:.2f}s")
        urls = list(expected)
        counts: list[int] = []
        self.op_name = "pipeline.triples.TriplesPipeline.run"

        def op(i):
            return self.pipe.run(
                self.pages, self.terms, run_fingerprint=f"s{self.seed}-{i}", run_id=f"t{i:04d}"
            )

        def check(i, out):
            n = out.count()
            rows = (
                out.where(F.col("subj").isin(urls))
                .select("subj", "pred", "obj", "mention", "confidence")
                .collect()
            )
            got = {r.subj: (r.pred, r.obj, r.mention, r.confidence) for r in rows}
            want = {u: e for u, e in expected.items() if e is not None}
            if got != want or len(rows) != len(got) or (counts and n != counts[0]):
                bad = sorted(u for u in set(got) | set(want) if got.get(u) != want.get(u))
                log(f"op {i}: {len(bad)} sampled pages differ from the oracle; "
                    f"count {n} vs {counts[:1]}; first: {bad[:1]} "
                    f"{[got.get(u) for u in bad[:1]]} != {[want.get(u) for u in bad[:1]]}")
                return None
            counts.append(n)
            return n

        return self.timed_loop(op, check, docs_per_op=len(pages))

    def extract_check(self) -> bool:
        """``extract_text_py`` reproduces the generator's text on a seeded
        sample (and nothing for script-only shells)."""
        from biocurator_mapper_spark.extract.html_text import extract_text_py

        rng = random.Random(self.seed + 1)
        pages = self.inputs.pages
        sample = rng.sample(pages, min(LAYER_SAMPLE_PAGES, len(pages)))
        bad = [p.url for p in sample if extract_text_py(p.html) != p.expected_extract]
        if bad:
            log(f"extract_text_py differs from the generator on {len(bad)} pages: {bad[:3]}")
        return not bad

    # ---------------------------------------------------------- resolve ops
    def resolve_loop(self) -> dict:
        passages = self.inputs.passages
        expected: dict[int, dict] = {}
        self.op_name = "pipeline.resolve.Resolver.resolve"

        def op(i):
            return self.resolver.resolve(passages[i % len(passages)])

        def check(i, ans):
            k = i % len(passages)
            if k not in expected:
                expected[k] = self.oracle.expected(passages[k])
            if ans != expected[k]:
                log(f"resolve {i}: {ans} != oracle {expected[k]}")
                return None
            return 1

        return self.timed_loop(op, check, docs_per_op=1)

    # ------------------------------------------------------- traced layers
    def crawl_layers(self, loop: dict) -> None:
        from biocurator_mapper_spark.extract.html_text import extract_text_py
        from biocurator_mapper_spark.functions.embed import embed_series
        from biocurator_mapper_spark.operators.mentions import AhoCorasick
        from biocurator_mapper_spark.pipeline.model_client import embed_with_cache
        from biocurator_mapper_spark.pipeline.triples import build_triples
        from pyspark.sql import functions as F
        import pandas as pd

        L = self.layer
        reader = loop["reader"]
        # plan build: the embedding-cache lookup, then build_triples (no
        # action); its driver time outside Spark jobs is taken out of
        # pipeline.commit_s below
        builds, build_driver = [], []
        for _ in range(3):
            with self.tracer.span("pipeline.model_client.embed_with_cache"):
                term_vecs = embed_with_cache(
                    self.terms.select("term_id", "searchable_text"), "searchable_text", self.catalog
                ).select("term_id", F.col("embedding").alias("term_embedding"))
            mark, w0 = reader.last_job_id(), time.time()
            t = time.perf_counter()
            with self.tracer.span("pipeline.triples.build_triples"):
                build_triples(self.pages, self.terms, n_buckets=N_BUCKETS, term_vecs=term_vecs)
            builds.append(time.perf_counter() - t)
            w1 = time.time()
            jobs = reader.between(mark, reader.last_job_id())
            build_driver.append(
                (w1 - w0) - covered_seconds([(j["submitted"], j["completed"]) for j in jobs], w0, w1)
            )
        L["triples.plan_build_s"] = median(builds)

        runs_dir = os.path.join(self.catalog.warehouse, "triples", "runs")
        per_op: dict[str, list[float]] = {}

        def add(name, v):
            per_op.setdefault(name, []).append(v)

        for rec in self.records:
            jobs = rec["jobs"]
            stages = [s for j in jobs for s in j["stages"]]
            # rerank + write: reads the url exchange and writes the triples;
            # scan: the busiest stage that writes a shuffle (the fused
            # extract/scan/embed pass feeding that exchange)
            writes = [s for s in stages if s["shuffle_read_bytes"] > 0 and s["output_bytes"] > 0]
            rerank = max(writes, key=lambda s: s["output_bytes"], default=None)
            mappers = [s for s in stages if s["shuffle_write_bytes"] > 0]
            scan = [max(mappers, key=lambda s: s["executor_s"])] if mappers else []
            main_ids = {s["stage_id"] for s in scan} | ({rerank["stage_id"]} if rerank else set())
            catalog_jobs = [
                j for j in jobs if not {s["stage_id"] for s in j["stages"]} & main_ids
            ]
            add("stage_scan.executor_s", sum(s["executor_s"] for s in scan))
            if scan:
                add("stage_scan.wall_s", max(s["completed"] for s in scan) - min(s["submitted"] for s in scan))
                add("stage_scan.task_skew", max(reader.task_skew(s) for s in scan))
            add("stage_rerank.shuffle_write_mb", sum(s["shuffle_write_bytes"] for s in scan) / 1e6)
            if rerank:
                add("stage_rerank.shuffle_read_mb", rerank["shuffle_read_bytes"] / 1e6)
                add("stage_rerank.executor_s", rerank["executor_s"])
                wj = next(j for j in jobs if rerank in j["stages"])
                add("pipeline.write_s", wj["completed"] - wj["submitted"])
            add("stage_catalog.jobs_per_run", len(catalog_jobs))
            add("stage_catalog.executor_s", sum(s["executor_s"] for j in catalog_jobs for s in j["stages"]))
            add("spark.jobs_per_run", len(jobs))
            add("spark.tasks_per_run", sum(s["tasks"] for s in stages))
            covered = covered_seconds(
                [(j["submitted"], j["completed"]) for j in jobs if j["completed"]], rec["t0"], rec["t1"]
            )
            add("pipeline.commit_s", (rec["t1"] - rec["t0"]) - covered - median(build_driver))
            run_dir = os.path.join(runs_dir, f"r_t{rec['op']:04d}")
            add("pipeline.files_written", sum(
                1 for _, _, fs in os.walk(run_dir) for f in fs if f.endswith(".parquet")
            ))
        for name, vs in per_op.items():
            L[name] = median(vs)

        durs = loop["durations"]
        third = max(1, len(durs) // 3)
        if durs:
            L["pipeline.run_drift_ratio"] = median(durs[-third:]) / median(durs[:third])
        L["catalog.log_files"] = sum(
            1
            for t in ("_checkpoints", "_metrics")
            for _, _, fs in os.walk(os.path.join(self.catalog.warehouse, t))
            for f in fs
            if f.endswith(".parquet")
        )
        L["embed_cache.misses"] = (self.cache_rows_after - self.cache_rows_before) / max(
            1, len(durs)
        )

        rows = self.terms.select("name", "all_synonyms").collect()
        surfaces = sorted({s.lower() for r in rows for s in [r.name, *(r.all_synonyms or [])] if s})
        t = time.perf_counter()
        with self.tracer.span("operators.mentions.AhoCorasick"):
            automaton = AhoCorasick(surfaces)
        L["mentions.automaton_build_s"] = time.perf_counter() - t
        L["mentions.broadcast_mb"] = len(pickle.dumps(automaton, protocol=pickle.HIGHEST_PROTOCOL)) / 1e6

        # per-page layers, each timed as one single-threaded pass over the
        # same seeded sample (a span per page would cost more than a short
        # page's scan)
        rng = random.Random(self.seed + 2)
        sample = rng.sample(self.inputs.pages, min(LAYER_SAMPLE_PAGES, len(self.inputs.pages)))
        n = len(sample)
        t = time.perf_counter()
        with self.tracer.span("extract.html_text.extract_text_py", pages=n):
            extracted = [extract_text_py(p.html) for p in sample]
        L["extract.ms_per_page"] = 1000 * (time.perf_counter() - t) / n
        L["extract.fallback_ratio"] = sum(not e for e in extracted) / n
        passages = [e or p.text for e, p in zip(extracted, sample)]
        t = time.perf_counter()
        with self.tracer.span("operators.mentions.AhoCorasick.find_distinct", pages=n):
            found = [automaton.find_distinct(x) for x in passages]
        L["mentions.scan_ms_per_page"] = 1000 * (time.perf_counter() - t) / n
        L["mentions.hit_page_ratio"] = sum(bool(f) for f in found) / n
        series = pd.Series(passages, dtype=object)
        t = time.perf_counter()
        with self.tracer.span("functions.embed.embed_series", pages=n):
            embed_series(series)
        L["embed.ms_per_page"] = 1000 * (time.perf_counter() - t) / n

    def resolve_layers(self, loop: dict) -> None:
        from biocurator_mapper_spark.functions.embed import hash_embed_py

        L = self.layer
        q = []
        with self.tracer.span("functions.embed.hash_embed_py", passages=len(self.inputs.passages)):
            for p in self.inputs.passages:
                t = time.perf_counter()
                hash_embed_py(p)
                q.append(time.perf_counter() - t)
        L["embed.query_ms"] = 1000 * median(q)
        L["resolve.init_s"] = median([s["init_s"] for s in self.setups])
        L["resolve.candidates_ms"] = 1000 * median(loop["traced"]) - L["embed.query_ms"]
        jobs = [len(r["jobs"]) for r in self.records]
        L["spark.jobs_per_run"] = median(jobs)
        L["spark.tasks_per_run"] = median(
            [sum(s["tasks"] for j in r["jobs"] for s in j["stages"]) for r in self.records]
        )

    # ---------------------------------------------------------------- run
    def run(self) -> dict:
        t = time.perf_counter()
        self.inputs = gen.generate(self.workload, self.seed, os.path.join(self.work, "inputs"))
        log(f"generated inputs in {time.perf_counter() - t:.2f}s")
        crawl = self.workload != "resolve_interactive"
        t = time.perf_counter()
        self.oracle = (oracle.TripleOracle if crawl else oracle.ResolveOracle)(self.inputs.terms)
        log(f"oracle set up in {time.perf_counter() - t:.2f}s")

        session_s = self.start_session()
        self.setups = []
        for rep in range(SETUP_REPEATS):
            if rep:
                shutil.rmtree(os.path.join(self.work, f"warehouse{rep - 1}"), ignore_errors=True)
            self.setups.append(self.setup_once(rep))
            log(f"setup {rep}: " + ", ".join(f"{k}={v:.3f}" for k, v in self.setups[-1].items()))
        setup_s = session_s + median([s["total_s"] for s in self.setups])
        if crawl:
            warm = self.warm_up_crawl()
            log("warm-up runs: " + " ".join(f"{w:.3f}" for w in warm))
            setup_s += sum(warm)
        n_terms = self.terms.count()

        extract_ok = True
        if crawl:
            extract_ok = self.extract_check()
            if self.trace:
                self.cache_rows_before = self.catalog.read_log("_embedding_cache").count()
            loop = self.crawl_loop()
            if self.trace:
                self.cache_rows_after = self.catalog.read_log("_embedding_cache").count()
        else:
            loop = self.resolve_loop()

        durs = loop["durations"]
        log("operation seconds: " + " ".join(f"{d:.3f}" for d in durs))
        attempted = loop["attempted"] + crawl  # + the extraction check
        failed = loop["failed"] + (not extract_ok)
        op_s = median(durs)
        tail_v, tail_p, n = tail(durs)
        e2e = {
            "setup_s": setup_s,
            "docs_per_s": loop["docs"] / len(durs) / op_s if durs else 0.0,
            "triples_per_s": loop["triples"] / len(durs) / op_s if durs else 0.0,
            "latency_p50_ms": 1000 * median(durs),
            "driver_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        }
        for k, v in e2e.items():
            print(f"{k:>22} {v:12.4f} {END_TO_END[k][0]:<10} ({END_TO_END[k][1]} is better)")
        print(f"{'latency_tail_ms':>22} {1000 * tail_v:12.4f} ms         "
              f"(p{tail_p:.1f} of n={n} operations; {loop['attempted']} attempted, "
              f"{loop['failed']} failed)")

        if self.trace:
            L = self.layer
            L["session.start_s"] = session_s
            L["ontology.ingest_s"] = median([s["ingest_s"] for s in self.setups])
            L["ontology.terms"] = n_terms
            L["failed_ratio"] = failed / attempted
            L["resolve.tail_ms"] = 1000 * tail_v
            L["trace.overhead_ratio"] = (
                median(loop["traced"]) / median(loop["plain"]) if loop["plain"] and loop["traced"] else 1.0
            )
            if crawl:
                self.crawl_layers(loop)
            else:
                self.resolve_layers(loop)
            metrics = {}
            for name, (unit, _, where) in PER_LAYER.items():
                metrics[name] = {"value": float(L.get(name, 0.0)) if self.workload in where else 0.0, "unit": unit}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace-{self.workload}-s{self.seed}.json")
            self.tracer.write(
                path,
                workload=self.workload,
                seed=self.seed,
                setups=self.setups,
                end_to_end_traced=e2e,
                tail={"percentile": tail_p, "n": n},
                per_layer={k: v["value"] for k, v in metrics.items()},
                not_applicable=[k for k, v in PER_LAYER.items() if self.workload not in v[2]],
                durations_s=durs,
                ops=self.records,
            )
            log(f"trace written to {os.path.relpath(path, ROOT)}")
        else:
            metrics = {k: {"value": float(v), "unit": END_TO_END[k][0]} for k, v in e2e.items()}
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(1, ROOT)
    try:
        import biocurator_mapper_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"the engine is not importable from {ROOT}: {e}")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        result = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
