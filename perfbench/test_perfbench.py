"""Self-tests of the benchmark harness.

Run from the root of a checkout: ``python3 -m pytest perfbench -q``.
The smoke runs start their own JVM each (about a minute apiece on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (ROOT, HERE) if p not in sys.path]

import run  # noqa: E402


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_run_prints_every_metric_with_its_unit(workload):
    end_to_end, per_layer = run.metric_units()
    for trace, units in ((0, end_to_end), (1, per_layer)):
        out = bench("--workload", workload, "--seed", "1", "--seconds", "1",
                    "--trace", str(trace), "--smoke")
        assert out.returncode == 0, out.stderr[-3000:]
        record, result = (json.loads(line) for line in out.stdout.splitlines()[-2:])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0, record["failed"]
        assert {k: m["unit"] for k, m in result["metrics"].items()} == units
        assert all(m["value"] > 0 for k, m in result["metrics"].items()
                   if k in end_to_end)
        assert record["cpus"] == run.usable_cpus() and record["seed"] == 1
        assert record["spark"] and "sf" in record
    if workload == "etl_daily":
        layers = result["metrics"]
        for r in ("first", "delta", "noop"):
            parts = sum(layers[f"etl.{r}.{k}"]["value"] for k in (
                "E1_s", "E2_s", "J1_s", "stage_ids_s", "L1_s", "L2_s", "other_s"))
            assert parts == pytest.approx(layers[f"etl.{r}.wall_s"]["value"], abs=1e-6)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = bench("--workload", "etl_daily", "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=str(tmp_path))
    assert out.returncode != 0
    assert out.stdout == ""


def test_seed_fixes_query_order():
    a, b = run.Analytics(7, "", True), run.Analytics(7, "", True)
    assert [a.order(i) for i in range(3)] == [b.order(i) for i in range(3)]
    others = [run.Analytics(s, "", True).order(1) for s in range(8, 12)]
    assert any(o != a.order(1) for o in others)
    assert sorted(a.order(1)) == sorted(a.queries)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    run.configure_env(work)
    from youtube_api_data_etl_automation_spark.session import get_spark

    s = get_spark("perfbench-selftest")
    yield s
    s.stop()


def test_different_seeds_give_the_same_etl_counts(spark, tmp_path):
    for seed in (1, 2):
        w = run.EtlDaily(seed, str(tmp_path), smoke=True)
        op = run.Op()
        w.run_pass(spark, op)
        assert op.failed == [] and w.count_errors == []
    assert run.EtlDaily(1, "", True).ids != run.EtlDaily(2, "", True).ids


def test_injected_failing_query_raises_failed_ratio(spark, tmp_path, monkeypatch):
    from youtube_api_data_etl_automation_spark.plans import QUERIES

    def boom(spark, sf_dir):
        raise RuntimeError("injected failure")

    monkeypatch.setitem(QUERIES, "perfbench_boom", boom)
    w = run.Analytics(1, str(tmp_path), smoke=True)
    w.queries = ["groupby_agg_pricing", "perfbench_boom"]
    w.prepare()
    op = run.Op()
    w.run_pass(spark, op)
    assert op.attempted == 2
    assert len(op.failed) == 1 and "perfbench_boom" in op.failed[0]
