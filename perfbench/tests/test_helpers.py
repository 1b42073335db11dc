"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

from spans import (  # noqa: E402
    GROUP_PREFIX,
    Span,
    Tracer,
    attribute,
    max_job_id,
    read_status,
    self_times,
    task_skew,
)


# ------------------------------------------------------------ self time


def test_self_time_subtracts_children():
    spans = [
        Span(0, "root", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 4.0),
        Span(2, "b", 0, 5.0, 7.0),
        Span(3, "a.inner", 1, 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once_and_clips_them():
    spans = [
        Span(0, "root", None, 0.0, 10.0),
        Span(1, "x", 0, 2.0, 6.0),
        Span(2, "y", 0, 4.0, 8.0),     # overlaps x: union is 2..8
        Span(3, "z", 0, 9.0, 12.0),    # runs past the parent: clipped to 9..10
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


# ----------------------------------------------------------- attribution


def _stage(sid, run_ms, shuffle=0.0, spill=0.0, failed=0.0, attempt=0):
    return {"stage": sid, "attempt": attempt, "run_ms": run_ms,
            "shuffle_write_bytes": shuffle, "spill_bytes": spill, "failed_tasks": failed}


def test_attribute_by_job_group_and_first_job():
    jobs = [
        {"job": 3, "group": f"{GROUP_PREFIX}1", "stages": [5, 6]},  # 5 skipped here
        {"job": 2, "group": f"{GROUP_PREFIX}0", "stages": [4, 5]},
        {"job": 4, "group": None, "stages": [7]},
        {"job": 5, "group": "someone-else", "stages": [8]},
    ]
    stages = [
        _stage(4, 1000, shuffle=2**20), _stage(5, 500),
        _stage(6, 250, spill=2**21, failed=1), _stage(7, 100), _stage(8, 10),
        _stage(9, 99),  # belongs to no listed job
    ]
    got = attribute(jobs, stages)
    assert got[0]["task_s"] == pytest.approx(1.5)
    assert got[0]["shuffle_mb"] == pytest.approx(1.0)
    assert got[1]["task_s"] == pytest.approx(0.25)
    assert got[1]["spill_mb"] == pytest.approx(2.0)
    assert got[1]["failed_tasks"] == 1
    assert got[None]["task_s"] == pytest.approx(0.11)
    assert sum(len(v["stages"]) for v in got.values()) == 5


def test_task_skew():
    assert task_skew([100, 100, 100, 400]) == pytest.approx(4.0)
    assert task_skew([50]) == 1.0


# -------------------------------------------------------------- Spark


@pytest.fixture(scope="module")
def spark():
    from common import prepare_env
    from ds2_spark.session import get_spark

    prepare_env()
    s = get_spark(app_name="perfbench_tests", cpus=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_digest_ignores_row_order_and_sees_value_changes(spark):
    from digest import digest

    rows = [(1, "a", 0.5, [1.0, 2.0], {"k": 1.25}), (2, "b", -3.0, [], {}),
            (3, None, 1e-3, [0.1], {"z": 0.0})]
    schema = "id int, s string, x double, v array<double>, m map<string,double>"
    base = digest(spark.createDataFrame(rows, schema))
    shuffled = spark.createDataFrame(rows[::-1], schema).repartition(3)
    assert digest(shuffled) == base
    below = [rows[0], rows[1], (3, None, 1e-3 + 1e-12, [0.1], {"z": 0.0})]
    assert digest(spark.createDataFrame(below, schema)) == base
    for changed in (
        (3, None, 1e-3 + 1e-6, [0.1], {"z": 0.0}),
        (3, None, 1e-3, [0.1 + 1e-6], {"z": 0.0}),
        (3, None, 1e-3, [0.1], {"z": 1e-6}),
        (3, "c", 1e-3, [0.1], {"z": 0.0}),
    ):
        df = spark.createDataFrame([rows[0], rows[1], changed], schema)
        assert digest(df) != base, changed
    assert digest(spark.createDataFrame(rows[:2], schema)) != base


def test_status_store_counters_follow_the_job_group(spark):
    tracer = Tracer(spark)
    after = max_job_id(spark)
    with tracer.span("shuffles"):
        spark.range(20000).selectExpr("id % 10 as k").groupBy("k").count().collect()
        with tracer.span("narrow"):
            spark.range(1000).filter("id > 5").count()
    spark.range(10).count()  # outside every span
    jobs, stages = read_status(spark, after)
    got = attribute(jobs, stages)
    shuffles = next(s.sid for s in tracer.spans if s.name == "shuffles")
    narrow = next(s.sid for s in tracer.spans if s.name == "narrow")
    assert got[shuffles]["shuffle_mb"] > 0
    assert narrow in got and got[narrow]["task_s"] >= 0
    groups = {j["group"] for j in jobs}
    assert f"{GROUP_PREFIX}{narrow}" in groups and None in groups
    assert {st["stage"] for st in got[narrow]["stages"]}.isdisjoint(
        {st["stage"] for st in got[shuffles]["stages"]})


# ------------------------------------------------------- declared metrics


def test_benchmark_json_matches_the_code():
    import layers
    from run import E2E_UNITS

    path = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert [m["name"] for m in spec["per_layer"]] == list(layers.PER_LAYER)
