"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The smoke tests run every workload end to end at sf0.001 for one short
window, through the output checks, and take a few minutes.
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
sys.path.insert(0, HERE)

import stats  # noqa: E402
import tracing  # noqa: E402
from checks import LakeReplay, Oracle  # noqa: E402
from datagen import DATA_SEED, generate  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


# --------------------------------------------------------------------------
# Percentiles
# --------------------------------------------------------------------------


def test_tail_refuses_fewer_than_ten_samples_beyond_it():
    with pytest.raises(ValueError, match="needs 10 samples beyond"):
        stats.tail([float(i) for i in range(99)], 0.9)
    with pytest.raises(ValueError):
        stats.tail([float(i) for i in range(50)], 0.99)


def test_tail_is_nearest_rank_once_supported():
    xs = [float(i) for i in range(1, 101)]
    assert stats.tail(xs, 0.9) == 90.0
    assert stats.median(xs) == 50.5


def test_geomean_weighs_each_op_alike():
    assert stats.geomean([100.0, 400.0]) == pytest.approx(200.0)
    with pytest.raises(ValueError):
        stats.geomean([])


def test_spread_is_quartile_distance_over_median():
    assert stats.spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert stats.spread([8.0, 9.0, 10.0, 11.0, 12.0]) > 0.0


# --------------------------------------------------------------------------
# Span attribution
# --------------------------------------------------------------------------


def test_jobs_go_to_the_innermost_span_and_self_time_excludes_children():
    op = {"id": 0, "name": "op", "t0": 0.0, "t1": 10.0}
    build = {"id": 1, "name": "registry", "t0": 1.0, "t1": 6.0}
    load = {"id": 2, "name": "tables", "t0": 2.0, "t1": 3.0}
    spans = [op, build, load]
    jobs = [{"id": j, "t": t, "stages": []} for j, t in enumerate((2.5, 4.0, 8.0, 11.0))]
    tracing.assign_jobs(spans, jobs)
    assert [j["id"] for j in load["jobs"]] == [0]
    assert [j["id"] for j in build["jobs"]] == [1]
    assert [j["id"] for j in op["jobs"]] == [2]  # job 3 lies outside every span
    assert tracing.self_ms(build, [load]) == pytest.approx(4000.0)
    assert tracing.self_ms(op, [build]) == pytest.approx(5000.0)


def test_tracer_is_inert_when_disabled():
    tr = tracing.Tracer(False)
    with tr.span("op"):
        pass
    assert tr.spans == []
    tr.enabled = True
    with tr.span("op", op="q"):
        with tr.span("registry"):
            pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("op", None), ("registry", 0)]


# --------------------------------------------------------------------------
# Output checks catch a perturbed result
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def tiny_data(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("perfbench_data"))
    generate(d, DATA_SEED, 0.001)
    return d


def test_oracle_compare_catches_a_perturbed_value(tiny_data):
    from yelp_data_pipeline_spark import TABLES
    from yelp_data_pipeline_spark.queries import oracle_sql

    oracle = Oracle(ROOT, tiny_data, TABLES)
    try:
        sql = oracle_sql()["top_regions_by_orders"]
        res = oracle.con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        assert rows and oracle.compare(sql, cols, rows) == []
        perturbed = [tuple(r) for r in rows]
        first = list(perturbed[0])
        i = next(j for j, v in enumerate(first) if isinstance(v, (int, float)))
        first[i] = first[i] + 1
        perturbed[0] = tuple(first)
        assert oracle.compare(sql, cols, perturbed) == ["value hash mismatch"]
        assert oracle.compare(sql, cols, rows[1:])[0].startswith("rowcount")
    finally:
        oracle.close()


def test_cached_oracle_result_still_catches_a_wrong_one(tiny_data, tmp_path):
    from yelp_data_pipeline_spark import TABLES
    from yelp_data_pipeline_spark.queries import oracle_sql

    sql = oracle_sql()["weekday_activity"]
    for _ in range(2):  # the second compare reads the cached result
        oracle = Oracle(ROOT, tiny_data, TABLES, str(tmp_path))
        try:
            res = oracle.con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            assert oracle.compare(sql, cols, rows) == []
            assert oracle.compare(sql, cols, rows[1:])[0].startswith("rowcount")
        finally:
            oracle.close()
    assert len(os.listdir(tmp_path)) == 1


def test_lake_fingerprint_catches_a_changed_row(tiny_data):
    replay = LakeReplay(os.path.join(tiny_data, "orders.parquet"))
    try:
        before = replay.fingerprint()
        replay.con.execute(
            "UPDATE t SET o_totalprice = o_totalprice + 0.01 WHERE o_orderkey = 7"
        )
        assert replay.fingerprint() != before
        changed = replay.fingerprint()
        replay.save_base()
        replay.apply({"kind": "delete", "where": "o_orderkey = 8"})
        assert replay.fingerprint()[0] == before[0] - 1
        replay.restore_base()
        assert replay.fingerprint() == changed
    finally:
        replay.close()


# --------------------------------------------------------------------------
# BENCHMARK.json agrees with the code
# --------------------------------------------------------------------------


def test_benchmark_json_names_match_the_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert [m["name"] for m in SPEC["per_layer"]] == list(tracing.PER_LAYER)
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    assert "setup_s" in e2e
    assert max(m["bound"] for m in SPEC["end_to_end"]) == next(
        m["bound"] for m in SPEC["end_to_end"] if m["name"] == "setup_s"
    )


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _run("--workload", "dashboard", "--seed", "1", "--seconds", "1",
               "--trace", "0", cwd=str(tmp_path))
    assert out.returncode != 0
    assert out.stdout.strip() == ""


# --------------------------------------------------------------------------
# Smoke: every workload end to end at sf0.001
# --------------------------------------------------------------------------


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run(workload, trace):
    out = _run("--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", trace, "--sf", "0.001")
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    kind = "per_layer" if trace == "1" else "end_to_end"
    assert set(result["metrics"]) == {m["name"] for m in SPEC[kind]}
    if trace == "1":
        assert result["metrics"]["trace.coverage"]["value"] >= 0.9
    else:
        assert all(m["value"] > 0 for m in result["metrics"].values())
