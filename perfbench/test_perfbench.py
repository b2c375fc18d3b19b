"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q`` from
the repository root. The end-to-end tests run the benchmark once untraced
and once traced on one workload (about three minutes)."""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest

from perfbench.probes import steal_share
from perfbench.tracer import Tracer, covered
from perfbench.workload import (
    GIANT_EVERY, GIANT_SEED, QUERY_PANEL, STORE_QUERIES, WORKLOADS, Run, base_index, doc_class,
    is_giant, pass_coverage, rows_digest, sources,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_bench(workload: str, trace: int, cwd: str = ROOT, seconds: int = 5):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def result_of(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


# --- pure helpers -------------------------------------------------------------


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([], 0, 10) == 0


def test_subtree_lists_a_span_and_its_descendants():
    tr = Tracer(enabled=True)
    root = tr.add("pass", 0.0, 10.0, None)
    a = tr.add("a", 1.0, 4.0, root.id)
    tr.add("b", 3.0, 6.0, root.id)
    tr.add("a1", 2.0, 3.0, a.id)
    assert [s.name for s in tr.subtree(root)][0] == "pass"
    assert len(tr.subtree(root)) == 4
    assert len(tr.subtree(a)) == 2


def pass_tree(job_end: float, stage_end: float):
    """A 10 s pass: 1 s plan build, then the action's wrapper span with one
    job and one stage inside it."""
    tr = Tracer(enabled=True)
    root = tr.add("pass", 0.0, 10.0, None)
    tr.add("pipeline.extract_in_memory", 0.0, 1.0, root.id)
    action = tr.add("spark.count", 1.0, 10.0, root.id)
    job = tr.add("spark.job", 1.0, job_end, action.id)
    tr.add("spark.stage.extract", 1.5, stage_end, job.id)
    return tr, root


def test_pass_coverage_counts_only_real_layers():
    tr, root = pass_tree(job_end=10.0, stage_end=10.0)
    assert pass_coverage(tr, root) == pytest.approx(1.0)
    # 5 s inside the action that no job or stage accounts for
    tr, root = pass_tree(job_end=5.0, stage_end=5.0)
    assert pass_coverage(tr, root) == pytest.approx(0.5)
    assert abs(pass_coverage(tr, root) - 1) > 0.10


def test_steal_share_is_the_eighth_counter_over_all():
    assert steal_share([0] * 10, [10, 0, 0, 80, 0, 0, 0, 10, 0, 0]) == pytest.approx(0.1)


def test_typical_skips_warm_up_and_stolen_samples():
    # one warm-up round, then a clean, a stolen and a clean sample
    run = SimpleNamespace(walls={"k": [9.0, 2.0, 5.0, 2.2]}, steal={"k": [0.0, 0.01, 0.2, 0.02]})
    assert Run.typical(run, "k") == pytest.approx(2.1)
    # every measured sample stolen: the least stolen one
    run.steal["k"] = [0.0, 0.3, 0.2, 0.1]
    assert Run.typical(run, "k") == 2.2


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x"):
        pass

    class M:
        f = staticmethod(lambda: 1)

    tr.wrap(M, "f", "m.f")
    assert M.f() == 1 and tr.spans == []


def test_wrap_records_and_unwrap_restores():
    tr = Tracer(enabled=True)

    class M:
        @staticmethod
        def f(x):
            return x + 1

    orig = M.f
    tr.wrap(M, "f", "m.f")
    with tr.span("outer"):
        assert M.f(1) == 2
    tr.unwrap_all()
    assert M.f is orig
    (inner,) = tr.named("m.f")
    assert tr.spans[inner.parent].name == "outer"


def test_rows_digest_ignores_order_and_last_float_digits():
    from pyspark.sql import Row

    a = [Row(k="x", v=0.1 + 0.2, m={"a": 1}), Row(k="y", v=1.0, m={})]
    b = [Row(k="y", v=1.0, m={}), Row(k="x", v=0.3, m={"a": 1})]
    assert rows_digest(a) == rows_digest(b)
    assert rows_digest(a) != rows_digest(a[:1])


def test_copies_keep_their_generator_index():
    assert base_index("doc_0001234") == 1234
    assert base_index("doc_0001234.2") == 1234


def test_is_giant_follows_the_generator():
    from tika_wrap_spark.corpus import gen_doc

    def size(i):
        return sum(len(s["text"] or "") for s in gen_doc(i, 5)["spans"])

    giants = [i for i in range(600) if is_giant(i, 5)]
    assert giants
    smallest_giant = min(size(i) for i in giants)
    assert all(gen_doc(i, 5)["spans"][0]["kind"] == "pdf" for i in giants)
    assert all(size(i) < smallest_giant for i in range(200) if i not in giants)


def test_mix_pins_its_giant_pdfs_and_web_does_not():
    mix, web = WORKLOADS["mix-extract"], WORKLOADS["web-extract"]
    assert sources(web, 3) == [(i, 3) for i in range(web.gen_docs)]
    a, b = sources(mix, 3), sources(mix, 4)
    assert len(a) == len(set(a)) == mix.gen_docs
    pinned = [x for x in a if x[1] == GIANT_SEED]
    assert len(pinned) == mix.gen_docs // GIANT_EVERY
    assert pinned == [x for x in b if x[1] == GIANT_SEED]
    assert all(is_giant(*x) for x in pinned)
    assert not any(is_giant(*x) for x in a if x[1] != GIANT_SEED)


def test_doc_class():
    span = lambda kind: {"kind": kind, "text": "", "media_ref": "", "offset": 0}  # noqa: E731
    assert doc_class([span("pdf")]) == "pdf"
    assert doc_class([span("text"), span("media")]) == "interleaved"
    assert doc_class([span("lz4")]) == "other"


# --- BENCHMARK.json -----------------------------------------------------------


def test_benchmark_json_follows_its_schema(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    names = [m["name"] for sec in ("workloads", "end_to_end", "per_layer") for m in spec[sec]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    assert 1 <= len(spec["per_layer"]) <= 128
    assert len(json.dumps(spec)) <= 64 * 1024


def test_sampled_store_queries_are_in_the_registry():
    from tika_wrap_spark import registry

    assert set(STORE_QUERIES) <= set(registry.REGISTRY)
    assert set(QUERY_PANEL) <= set(STORE_QUERIES)


def test_sampled_store_queries_are_named_in_the_benchmark(spec):
    per_layer = {m["name"] for m in spec["per_layer"]}
    assert {"query.%s_s" % q for q in QUERY_PANEL} <= per_layer


# --- end to end ---------------------------------------------------------------


@pytest.fixture(scope="module")
def untraced():
    return run_bench("web-extract", 0)


@pytest.fixture(scope="module")
def traced():
    return run_bench("web-extract", 1)


def check_output(proc, metrics_spec):
    res = result_of(proc)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert list(res["metrics"]) == [m["name"] for m in metrics_spec]
    for m in metrics_spec:
        got = res["metrics"][m["name"]]
        assert set(got) == {"value", "unit"} and got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float) and math.isfinite(got["value"]), m["name"]
    env = json.loads(proc.stdout.strip().splitlines()[-2])["env"]
    assert {"nproc", "ram_mb", "master", "seed"} <= set(env)
    return res


def test_untraced_run_emits_every_end_to_end_metric(untraced, spec):
    res = check_output(untraced, spec["end_to_end"])
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_emits_every_per_layer_metric(traced, spec):
    check_output(traced, spec["per_layer"])


def test_traced_layers_cover_the_pass_wall(traced):
    res = result_of(traced)
    assert abs(res["metrics"]["trace.pass_coverage"]["value"] - 1) <= 0.10
    with open(os.path.join(ROOT, ".perfbench_out", "trace-web-extract-11.json")) as f:
        trace = json.load(f)
    spans = trace["spans"]
    assert {"id", "name", "start", "end", "parent", "run_id"} <= set(spans[0])
    assert {s["run_id"] for s in spans} == {trace["run_id"]}
    passes = [s for s in spans if s["name"] == "pass"]
    stages = [s for s in spans if s["name"].startswith("spark.stage.")]
    assert passes and stages


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("mix-extract", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
