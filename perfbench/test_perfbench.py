"""Self-tests of the benchmark. Not part of the engine's test suite;
run them with

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The smoke tests run every workload once traced and once untraced at the
benchmark's own input scale (about five minutes on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from perfbench import spans, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)


def test_every_headline_row_is_measured_or_excused():
    measured = [op for ops in workloads.WORKLOADS.values() for op in ops
                if op != workloads.PIPELINE]
    headline = [n for n in measured if n in bench.HEADLINE]
    assert len(headline) == len(set(headline)), "a row runs in two workloads"
    assert not set(headline) & set(workloads.NOT_MEASURED)
    assert set(headline) | set(workloads.NOT_MEASURED) == set(bench.HEADLINE)


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    assert set(workloads.WARMUP_PASSES) == set(workloads.WORKLOADS)


def test_measured_rows_have_oracles():
    from etl_pipeline_mini_project_01_spark.pipeline import GOLD_VIEWS
    from etl_pipeline_mini_project_01_spark.plans import registry

    registry.load_all_plans()
    for ops in workloads.WORKLOADS.values():
        for op in ops:
            for name in (GOLD_VIEWS if op == workloads.PIPELINE else (op,)):
                assert name in registry.ORACLES, name


def test_spans_nest_and_self_time():
    tr = spans.Tracer("t")
    tr.enabled = True
    tr.op = "op"
    with tr.span("outer"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.02)
            with tr.span("leaf"):
                time.sleep(0.01)
        f = tr.wrap("wrapped", lambda x: x + 1)
        assert f(1) == 2
    with pytest.raises(ValueError), tr.span("failing"):
        raise ValueError
    by = {s["name"]: s for s in tr.spans}
    assert by["inner"]["parent"] == by["outer"]["id"]
    assert by["leaf"]["parent"] == by["inner"]["id"]
    assert by["wrapped"]["parent"] == by["outer"]["id"]
    assert by["failing"]["error"] and by["failing"]["parent"] is None
    st = spans.self_times(tr.spans)
    assert all(v >= 0 for v in st.values())
    outer = by["outer"]
    assert st[outer["id"]] == pytest.approx(0.02, abs=0.015)
    assert st[by["inner"]["id"]] == pytest.approx(0.02, abs=0.015)


def test_wrong_output_is_caught(tmp_path, monkeypatch):
    import pandas as pd

    from etl_pipeline_mini_project_01_spark.plans import registry
    from perfbench.run import Bench
    from tests.driver_mimic import canon_frame

    class Frame:  # the one DataFrame method the first pass calls
        def __init__(self, pdf):
            self.pdf = pdf

        def toPandas(self):
            return self.pdf

    good = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    b = Bench("curation_ml", 1, str(tmp_path), traced=False)
    op = b.ops[0]
    b.oracle = {op: canon_frame(good)}
    for pdf in (good, good.assign(v=[0.5, 1.25]), good.head(1)):
        monkeypatch.setitem(registry.QUERIES, op, lambda *_a, f=pdf: Frame(f))
        if pdf is good:
            assert b.run_op(op, "collect", "r")[1] == 2
        else:
            with pytest.raises(AssertionError):
                b.run_op(op, "collect", "r")


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    path = os.path.join(ROOT, ".perfbench_work", "results",
                        f"{workload}-seed7-trace{trace}.json")
    with open(path, encoding="utf-8") as fh:
        return result, json.load(fh)


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke_untraced(workload):
    result, record = _run(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert record["meta"]["master"] == f"local[{record['meta']['nproc']}]"


#: Package layers whose spans each workload's traced passes must show.
LAYERS_TRACED = {
    "curation_ml": {"plans", "catalog", "operators"},
    "medallion_writes": {"plans", "catalog", "pipeline", "sources", "streaming"},
}


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke_traced(workload):
    result, record = _run(workload, 1)
    assert result["correct"] and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    done = [s for s in record["spans"] if s["end"] is not None]
    assert done and len(done) == len(record["spans"])
    by_id = {s["id"]: s for s in done}
    for s in done:
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"]
            assert p["op"] == s["op"]
    assert all(v >= -1e-6 for v in spans.self_times(done).values())
    layers = {s["name"].split(".")[0] for s in done}
    assert LAYERS_TRACED[workload] <= layers
