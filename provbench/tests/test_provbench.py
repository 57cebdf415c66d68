"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest provbench/tests -q

The end-to-end tests run both workloads at a tiny scale in this process, on
one JVM, so they take a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from collections import Counter
from contextlib import nullcontext

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from git_prov_spark.fixtures import FixtureParams, gen_tables  # noqa: E402
from provbench import workloads  # noqa: E402
from provbench.inputs import (  # noqa: E402
    Sizes,
    files_rows,
    grow,
    make_layout,
    repo_tables,
)
from provbench.layers import END_TO_END, PER_LAYER  # noqa: E402
from provbench.tracing import Tracer  # noqa: E402

TINY = Sizes(n_repos=3, n_commits=10, n_files=2, n_buckets=2)


def _md5_buckets(names, n_buckets):
    """A stand-in for Spark's repo_bucket in the tests that need no session."""
    return {n: int(hashlib.md5(n.encode()).hexdigest(), 16) % n_buckets for n in names}


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --------------------------------------------------------------------------
# Pure-Python: inputs, tracing, the catalogue
# --------------------------------------------------------------------------

def test_two_seeds_give_different_inputs_of_the_same_shape():
    a, b = make_layout(1, TINY, _md5_buckets), make_layout(2, TINY, _md5_buckets)
    assert set(a.repos).isdisjoint(b.repos)
    assert [a.bucket(r) for r in a.repos] == [b.bucket(r) for r in b.repos]
    ta, tb = repo_tables(a, a.repos), repo_tables(b, b.repos)
    for x, y in zip(ta, tb):
        assert x.shape == y.shape
    assert set(ta[1]["commit"]).isdisjoint(tb[1]["commit"])
    again = repo_tables(make_layout(1, TINY, _md5_buckets), a.repos)
    assert all(x.equals(y) for x, y in zip(ta, again))


def test_tables_equal_the_fixture_generator_before_growth():
    layout = make_layout(3, TINY, _md5_buckets)
    ours = repo_tables(layout, layout.repos)
    theirs = gen_tables(FixtureParams(repos=layout.specs))
    assert ours[0].equals(theirs[0])
    for x, y in zip(ours[1:], theirs[1:]):
        assert x.astype(str).equals(y.astype(str))


def test_growth_extends_history_exactly():
    layout = make_layout(5, Sizes(n_repos=2, n_commits=12, n_files=6), _md5_buckets)
    repo = layout.repos[1]
    spec = layout.spec(repo)
    before = files_rows(spec, layout.base_commits[repo])
    grow(layout, repo, 4)
    after = files_rows(spec, layout.base_commits[repo])
    old_commits = {r["commit"] for r in before}
    assert [r for r in after if r["commit"] in old_commits] == before
    assert len(after) > len(before)


def test_tracer_self_time_subtracts_children():
    class FakeContext:
        def setLocalProperty(self, key, value):
            self.value = value

    t = Tracer(FakeContext())
    with t.span("outer", "r") as outer:
        with t.span("inner", "r"):
            pass
    assert t.sc.value is None
    inner = t.spans[1]
    assert inner.parent == outer.id
    assert t.self_seconds(outer) == pytest.approx(outer.seconds - inner.seconds)
    assert t.job_groups(outer.id) == {"span-0", "span-1"}


def test_benchmark_json_matches_the_catalogue():
    bench = _benchmark_json()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == list(PER_LAYER)
    assert any(m == ("setup_s", "s", "lower", max(b for *_, b in END_TO_END))
               for m in END_TO_END)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "provbench"), tmp_path / "provbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    bench = _benchmark_json()
    proc = subprocess.run(
        bench["command"] + ["--workload", "build_history", "--seed", "1",
                            "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


# --------------------------------------------------------------------------
# Spark: bucket placement, tiny end-to-end runs, corruption is caught
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def jvm():
    from provbench import run

    os.chdir(ROOT)
    yield run
    run.stop_jvm()


def test_layered_mirror_equals_build_triples(jvm):
    """The traced run's per-layer figures come from a layer-by-layer copy of
    build_triples' dataflow; a change to build_triples must show here."""
    from git_prov_spark.pipeline.build import build_triples
    from provbench import env

    work = os.path.join(jvm.WORK_ROOT, "test")
    env.prepare_process(work)
    spark = env.start_session(work, event_log=False)
    try:
        layout = make_layout(4, TINY, workloads.bucket_scorer(spark))
        tables = [spark.createDataFrame(pdf, schema) for pdf, schema in
                  zip(repo_tables(layout, layout.repos), workloads.INPUT_SCHEMAS)]
        mirror, stats = workloads.layered_build(*tables, lambda name: nullcontext())
        cols = workloads.TRIPLE_COLS
        got = Counter(tuple(r) for r in mirror.select(*cols).collect())
        want = Counter(tuple(r) for r in build_triples(*tables).select(*cols).collect())
        assert got == want and sum(got.values()) > 0
        assert sum(v for k, v in stats.items() if k.startswith("statements.")) == sum(
            want.values())
        assert {layout.bucket(r) for r in layout.repos} == {0, 1}
    finally:
        spark.stop()


#: per-layer metrics each traced workload must measure as non-zero: if
#: event-log attribution broke they would all read 0
TRACED_NONZERO = {
    "build_history": (
        "changelog.s", "changelog.events", "versions.s", "agents.s", "diffstats.s",
        "diffstats.modified", "diffstats.content_pairs", "statements.s",
        *(f"statements.{k}.triples" for k in workloads.STATEMENT_KINDS),
        "build.stages", "build.tasks", "store.write_s", "store.files_written",
        "store.bytes_written_mb", "store.list_s", "store.files_scanned_per_query",
        "store.rows_scanned_per_result",
    ),
    "ingest_mixed": (
        "changelog.events", "statements.s", "build.stages", "build.tasks",
        "store.write_s", "store.files_written", "store.bytes_written_mb",
        "ingest.rows_rewritten_per_row_added", "store.list_s",
        "store.files_scanned_per_query", "store.rows_scanned_per_result",
        "sparql.plan_ms", "sparql.exec_ms", "sparql.jobs_per_query",
        "sparql.tasks_per_query", "results.format_ms",
    ),
}


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
@pytest.mark.parametrize("trace", [False, True])
def test_tiny_run_prints_every_metric_with_its_unit(jvm, workload, trace):
    out = jvm.run(workload, 7, 1, trace, sizes=TINY)
    result = out["result"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    catalogue = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        name: unit for name, unit, *_ in catalogue}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        zero = [k for k in TRACED_NONZERO[workload] if not result["metrics"][k]["value"] > 0]
        assert zero == []
    json.dumps(out)  # the report line must serialise


def _drop_one_triple(write):
    def corrupted(triples, *args, **kwargs):
        from pyspark.sql import functions as F

        drop = (F.col("repo").endswith("/hot") & (F.col("pred") == "rdf:type")
                & (F.col("obj") == "prov:Activity") & F.col("subj").contains("commit-c0003"))
        return write(triples.where(~drop), *args, **kwargs)
    return corrupted


def test_dropped_triple_is_caught(jvm, monkeypatch):
    monkeypatch.setattr(workloads, "write_triples", _drop_one_triple(workloads.write_triples))
    out = jvm.run("build_history", 7, 1, False, sizes=TINY)
    assert out["result"]["failed"] >= 1 and not out["result"]["correct"]
    assert out["result"]["metrics"]["ok_frac"]["value"] < 1
    assert out["report"]["failed_frac"] > 0


def test_wrong_query_answer_is_caught(jvm, monkeypatch):
    real = workloads.results_text
    calls = []

    def one_wrong(df, *args, **kwargs):
        text = real(df, *args, **kwargs)
        calls.append(1)
        if len(calls) != 2:  # the first call warms up, the second is checked
            return text
        doc = json.loads(text)
        doc["results"]["bindings"] = doc["results"]["bindings"][1:] or [{"x": {
            "type": "literal", "value": "wrong"}}]
        return json.dumps(doc)

    monkeypatch.setattr(workloads, "results_text", one_wrong)
    out = jvm.run("ingest_mixed", 7, 1, False, sizes=TINY)
    assert out["result"]["failed"] == 1
    assert out["result"]["metrics"]["ok_frac"]["value"] < 1
