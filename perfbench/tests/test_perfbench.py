"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The catalogue, generator and tracer tests need no Spark.  Each tiny-size
run starts one Spark process (about a minute each, one at a time); never
run them beside another Spark JVM.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
from tracing import Tracer  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_is_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == metrics.benchmark_json()


def test_catalogue_is_well_formed():
    spec = metrics.benchmark_json()
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer") for m in spec[key]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])
    assert all(UNIT.match(m["unit"]) for key in ("end_to_end", "per_layer") for m in spec[key])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    for role in metrics.END_TO_END:
        assert set(metrics.MEANING[role]) == set(metrics.WORKLOADS)
    for _unit, _better, workloads, moves in metrics.PER_LAYER.values():
        assert workloads is None or set(workloads) <= set(metrics.WORKLOADS)
        assert moves in metrics.END_TO_END


def generated(seed: int) -> dict:
    """Every input the workloads generate, at a small size."""
    corpus = gen.serve_corpus(seed, 200, 16)
    ops = gen.ServeOps(seed, corpus)
    stream = [next(ops) for _ in range(3 * len(gen.SERVE_BLOCK))]
    return {
        "serve": corpus.as_dict(),
        "ops": [{k: v.as_dict() if isinstance(v, gen.Docs) else v for k, v in op.items()}
                for op in stream],
        "dedup": gen.dedup_corpus(seed, 200),
    }


def test_same_seed_same_inputs():
    assert gen.fingerprint(generated(7)) == gen.fingerprint(generated(7))


def test_other_seed_other_inputs():
    assert gen.fingerprint(generated(7)) != gen.fingerprint(generated(8))


def test_self_time_excludes_children():
    tr = Tracer(True)
    with tr.op("x"):
        with tr.span("collection.a"):
            with tr.span("knn.b"):
                pass
    spans = {s["name"]: s for s in tr.spans}
    selft = tr.self_times()
    dur = {n: s["end"] - s["start"] for n, s in spans.items()}
    assert spans["knn.b"]["parent"] == spans["collection.a"]["id"]
    assert {s["op"] for s in tr.spans} == {1}
    assert selft[spans["op.x"]["id"]] == pytest.approx(dur["op.x"] - dur["collection.a"])
    assert selft[spans["collection.a"]["id"]] == pytest.approx(dur["collection.a"] - dur["knn.b"])


def bench(cwd, *args, timeout=900):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    r = bench(tmp_path, "--workload", "serve_mixed", "--seed", "1", "--seconds", "1",
              "--trace", "0", timeout=180)
    assert r.returncode != 0
    assert r.stdout.strip() == ""


def test_refuses_to_run_beside_another_spark_jvm(monkeypatch):
    import common
    import run

    monkeypatch.setattr(common, "other_spark_jvms", lambda: [1])
    assert run.main(["--workload", "serve_mixed", "--seed", "1", "--seconds", "1"]) == 3


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(metrics.WORKLOADS))
def test_tiny_run_emits_every_metric(workload, trace):
    r = bench(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--size", "tiny")
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {k: v[0] for k, v in want.items()}
    values = {k: v["value"] for k, v in out["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values()), values
        return
    mine = set(metrics.layer_metrics(workload)) - {"trace.overhead_s"}
    assert all(values[k] > 0 for k in mine), {k: values[k] for k in mine}
    assert all(values[k] == 0 for k in set(values) - mine - {"trace.overhead_s"})
    with open(os.path.join(ROOT, ".bench_out", "trace", f"{workload}-seed3.json")) as f:
        trace_file = json.load(f)
    assert trace_file["spans"]
    assert {"name", "start", "end", "parent", "op", "self_s"} <= set(trace_file["spans"][0])
    assert trace_file["tracing_overhead_s"] == values["trace.overhead_s"]
