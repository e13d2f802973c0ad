"""The benchmark's own tests, at sf0.001 with one-second runs.

    python3 -m pytest perfbench/ -q -p no:cacheprovider

Each runs the benchmark in a child process from the repository root, as
the benchmark is meant to be run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# runnable by hand, outside BENCHMARK.json's run budget
EXTRA_WORKLOADS = ["corpus_dedup"]
ENV = {**os.environ, "PERFBENCH_SF": "0.001"}


def _run(workload: str, trace: int, prelude: str = "") -> tuple[dict, dict]:
    code = (f"{prelude}\nimport sys\nfrom perfbench.run import main\n"
            f"sys.exit(main(['--workload', {workload!r}, '--seed', '5', "
            f"'--seconds', '1', '--trace', '{trace}']))")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, env=ENV,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    detail, result = out.stdout.strip().splitlines()[-2:]
    return json.loads(detail), json.loads(result)


def _declared(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


@pytest.mark.parametrize("workload", WORKLOADS + EXTRA_WORKLOADS)
def test_prints_declared_end_to_end_metrics(workload):
    _, res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == _declared("end_to_end")
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_declared_layers_and_spans_add_up(workload):
    detail, res = _run(workload, 1)
    assert {k: v["unit"] for k, v in res["metrics"].items()} == _declared("per_layer")
    assert res["metrics"]["trace.overhead_ratio"]["value"] > 0
    spans = json.loads((ROOT / detail["trace_file"]).read_text())
    ops = [s for s in spans if s["layer"] == "op"]
    assert ops
    for op in ops:
        children = [s for s in spans if s["parent"] == op["id"]]
        assert children, op["name"]
        # layer self times + the op's unattributed time == the op's wall
        total = op["self_s"] + sum(c["dur_s"] for c in children)
        assert total == pytest.approx(op["dur_s"], abs=1e-9)
    unattributed = sum(op["self_s"] for op in ops)
    assert res["metrics"]["trace.unattributed_s"]["value"] == pytest.approx(unattributed)


def test_same_seed_writes_identical_batches(tmp_path):
    code = f"""
import sys; sys.path.insert(0, {str(ROOT)!r})
from pathlib import Path
from perfbench import datagen
t = datagen.ensure_tables(Path({str(tmp_path)!r}) / "data")
for d, seed in (("a", 3), ("b", 3), ("c", 4)):
    datagen.write_batches(seed, 2, t, Path({str(tmp_path)!r}) / d)
"""
    subprocess.run([sys.executable, "-c", code], env=ENV, check=True, timeout=300)
    files = sorted(p.name for p in (tmp_path / "a").iterdir())
    assert files == sorted(p.name for p in (tmp_path / "b").iterdir())
    for f in files:
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()
    assert any((tmp_path / "a" / f).read_bytes() != (tmp_path / "c" / f).read_bytes()
               for f in files)


DROP_A_ROW = """
import enterprise_data_warehouse_spark.queries as q
_load = q.load_registry
def load_registry():
    reg = _load()
    spec = reg["catalog_fact_sales_daily"]
    def fn(spark, sf_dir):
        df = spec.fn(spark, sf_dir)
        return df.limit(df.count() - 1)
    reg = dict(reg)
    reg["catalog_fact_sales_daily"] = q.QuerySpec(fn, spec.oracle, spec.bench)
    return reg
q.load_registry = load_registry
"""

DROP_A_MERGED_ROW = """
import enterprise_data_warehouse_spark.sources.sink as sink
_merge = sink.merge_upsert
def merge_upsert(spark, path, src, keys, **kw):
    return _merge(spark, path, src.orderBy(*keys).limit(src.count() - 1), keys, **kw)
sink.merge_upsert = merge_upsert
"""


@pytest.mark.parametrize("workload,prelude", [
    ("warehouse_queries", DROP_A_ROW),
    ("fact_merge", DROP_A_MERGED_ROW),
])
def test_planted_wrong_result_raises_fail_ratio(workload, prelude):
    detail, res = _run(workload, 0, prelude)
    assert not res["correct"]
    assert res["failed"] > 0
    assert detail["fail_ratio"] == res["failed"] / res["attempted"] > 0
