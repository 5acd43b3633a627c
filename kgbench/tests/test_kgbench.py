"""Self-test of the benchmark at tiny sizes.

Every workload completes untraced and traced with zero failed checks and
reports exactly the metrics BENCHMARK.json declares; every output check
rejects a deliberately corrupted output (a dropped triple, a flipped tag,
a perturbed rank, a skipped bucket).

    python3 -m pytest kgbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from kgbench import checks
from kgbench.run import run_workload, trace_metrics
from kgbench.workloads import SIZES, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def declared(section: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[section]}


def workload(spark, work, name, seed=5):
    w = WORKLOADS[name](spark, os.path.join(work, f"unit-{name}"), seed, SIZES["tiny"][name])
    w.prepare()
    return w


def test_workloads_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_completes(spark, work, name):
    tally, detail = run_workload(spark, name, 3, 0, False, work, size="tiny")
    assert tally == {"attempted": 3, "failed": 0}
    metrics = detail["metrics"]
    assert set(metrics) == declared("end_to_end")
    assert all(v > 0 for v, _unit in metrics.values())

    tally, detail = run_workload(spark, name, 3, 0, True, work, size="tiny")
    assert tally == {"attempted": 4, "failed": 0}
    layers = trace_metrics(detail, os.path.join(work, "events"))
    assert set(layers) == declared("per_layer")
    parent = WORKLOADS[name].parent
    assert layers[f"{parent}.jobs"][0] > 0 and layers[f"{parent}.wall_s"][0] > 0
    assert layers["trace.coverage"][0] > 0


def test_tracer_materializes_each_input_once(spark, work):
    from kgbench.trace import Tracer

    path = os.path.join(work, "scan.parquet")
    spark.range(10).write.mode("overwrite").parquet(path)
    scan = spark.read.parquet(path)
    derived = scan.filter("id > 2")
    tracer = Tracer(spark, "unit")
    with tracer.job("pipeline"):
        assert tracer._input(scan) is scan
        copy = tracer._input(derived)
        assert copy is not derived and copy.count() == 7
        assert tracer._input(derived) is copy


def test_dropped_triple_fails(spark, work):
    w = workload(spark, work, "build_web")
    w.job(0)
    assert w.check(0) == []
    got = w.triples(0)
    assert checks.check_triples(got, w.gold) == []
    assert checks.check_triples(got.iloc[1:], w.gold)
    dup = got.copy()
    dup.iloc[0, dup.columns.get_loc("sentence_id")] += 1
    assert checks.check_triples(dup, w.gold)


def test_flipped_tag_fails(spark, work):
    from pyspark.sql import functions as F

    from bioner_spark.ner.infer import encoded_sentences

    w = workload(spark, work, "neural_tag")
    w.job(0)
    tagged = w.last.tokens
    keys = tagged.select("doc_id").distinct().orderBy("doc_id").limit(1)
    sample = tagged.join(F.broadcast(keys), "doc_id", "left_semi")
    got = {
        (r["doc_id"], r["sentence_id"], r["token_id"]): r["tag"]
        for r in sample.collect()
    }
    expected = checks.authority_tags(
        w.model, encoded_sentences(sample.drop("tag"), w.vocab).collect(), w.sparse_dim
    )
    assert checks.check_tags(got, expected) == []
    key = next(iter(got))
    flipped = dict(got)
    flipped[key] = "O" if got[key] != "O" else "B"
    assert checks.check_tags(flipped, expected)
    assert w.check(0) == []  # releases the job's caches


def test_foreign_component_fails():
    import pandas as pd

    alias = pd.DataFrame(
        {"alias": ["a", "a", "b"], "canonical_id": ["C2", "C1", "C3"]}
    )
    comps = checks.alias_components(alias)
    assert comps == {"C1": "C1", "C2": "C1", "C3": "C3"}
    ok = pd.DataFrame({"subj": ["C1"], "obj": ["C3"]})
    assert checks.check_components(ok, comps) == []
    assert checks.check_components(pd.DataFrame({"subj": ["C2"], "obj": ["C3"]}), comps)


def test_uncovered_pair_sentence_fails():
    import pandas as pd

    linked = pd.DataFrame(
        {"doc_id": ["d1", "d1", "d1", "d2"], "sentence_id": [0, 0, 1, 0],
         "start_tok": [1, 4, 2, 3]}
    )
    triples = pd.DataFrame({"doc_id": ["d1", "d1"], "sentence_id": [0, 0]})
    assert checks.check_pair_sentences(triples, linked) == []
    assert checks.check_pair_sentences(triples.iloc[:0], linked)
    assert checks.check_pair_sentences(triples.iloc[:0], linked.iloc[2:]) == []
    extra = pd.DataFrame({"doc_id": ["d1", "d2"], "sentence_id": [0, 0]})
    assert checks.check_pair_sentences(extra, linked)


def test_perturbed_rank_fails(spark, work):
    w = workload(spark, work, "analytics_skew")
    w.job(0)
    assert w.check(0) == []
    products = w.products(0)
    pr = products["pagerank"].copy()
    pr.loc[0, "rank"] += 1e-6
    assert checks.check_analytics(dict(products, pagerank=pr), w.oracle)
    assert checks.check_analytics(
        dict(products, khop_neighbors=products["khop_neighbors"].iloc[1:]), w.oracle
    )


def test_skipped_bucket_fails(spark, work):
    w = workload(spark, work, "build_web")
    w.job(0)
    assert w.check(0) == []
    triples = os.path.join(w.job_dir(0), "triples")
    bucket = sorted(d for d in os.listdir(triples) if d.startswith("bucket="))[0]
    shutil.rmtree(os.path.join(triples, bucket))
    assert checks.check_triples(w.triples(0), w.gold)
