"""The benchmark's own tests: seeded generation, oracle vs engine on a tiny
input, and the command printing every name BENCHMARK.json lists.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

TINY = gen.Spec(n_terms=40, n_pages=80, n_splits=2, n_passages=30)


def _files(d):
    out = {}
    for base, _, names in os.walk(d):
        for n in names:
            p = os.path.join(base, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


def test_same_seed_same_bytes(tmp_path):
    a = gen.generate("crawl_short", 7, str(tmp_path / "a"), spec=TINY)
    b = gen.generate("crawl_short", 7, str(tmp_path / "b"), spec=TINY)
    c = gen.generate("crawl_short", 8, str(tmp_path / "c"), spec=TINY)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert a.passages == b.passages
    assert _files(tmp_path / "a") != _files(tmp_path / "c")
    # exact shares: proportions do not move with the seed
    for inp in (a, c):
        assert sum(p.expected_extract == "" for p in inp.pages) == round(TINY.fallback_rate * 80)
        assert sum(gen.HUB_HOST in p.url for p in inp.pages) == round(TINY.hub_share * 80)


def test_benchmark_json_matches_the_command():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == {
        k: v[:2] for k, v in run.PER_LAYER.items()
    }


@pytest.fixture(scope="module")
def spark():
    from biocurator_mapper_spark.session import get_spark

    s = get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


def _ingest(spark, inputs, warehouse):
    from biocurator_mapper_spark.ontology import nodes_from_obo_graph, parse_terms
    from biocurator_mapper_spark.sources.catalog import ParquetCatalog
    from biocurator_mapper_spark.sources.obo_json import read_obo_graph

    catalog = ParquetCatalog(spark, warehouse)
    terms = parse_terms(nodes_from_obo_graph(read_obo_graph(spark, inputs.ontology_path)))
    catalog.write_replace(terms, "terms")
    return catalog, catalog.read("terms")


def test_oracle_agrees_with_the_pipeline(spark, tmp_path):
    from biocurator_mapper_spark.extract.html_text import extract_text_py
    from biocurator_mapper_spark.pipeline.triples import TriplesPipeline

    inputs = gen.generate("crawl_short", 3, str(tmp_path / "in"), spec=TINY)
    catalog, terms = _ingest(spark, inputs, str(tmp_path / "wh"))
    out = TriplesPipeline(catalog).run(
        spark.read.parquet(inputs.pages_path), terms, run_fingerprint="t"
    )
    got = {
        r.subj: (r.pred, r.obj, r.mention, r.confidence)
        for r in out.select("subj", "pred", "obj", "mention", "confidence").collect()
    }
    orc = oracle.TripleOracle(inputs.terms)
    want = {}
    for p in inputs.pages:
        assert extract_text_py(p.html) == p.expected_extract
        e = orc.expected(p.expected_extract or p.text)
        if e is not None:
            want[p.url] = e
    assert len(want) >= 60  # most tiny pages mention a term
    assert got == want


def test_resolve_oracle_agrees_with_resolver(spark, tmp_path):
    from biocurator_mapper_spark.pipeline.resolve import Resolver

    inputs = gen.generate("resolve_interactive", 3, str(tmp_path / "in"), spec=TINY)
    _, terms = _ingest(spark, inputs, str(tmp_path / "wh"))
    resolver = Resolver(terms)
    orc = oracle.ResolveOracle(inputs.terms)
    for p in inputs.passages:
        assert resolver.resolve(p) == orc.expected(p)


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_command_prints_every_metric(trace, key):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = {m["name"]: m["unit"] for m in json.load(f)[key]}
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "crawl_short",
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
