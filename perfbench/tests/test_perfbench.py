"""Tests of the benchmark itself: seeded inputs are reproducible, and
every output check rejects a perturbed result.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from checks import (  # noqa: E402
    Truth,
    bround,
    check_count,
    check_gold,
    check_query,
)

SMALL = gen.Spec(
    n_devices=12,
    interval_s=60,
    backlog_s=3 * 3600,
    n_ticks=2,
    tick_s=600,
    lines_per_file=500,
)


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_same_seed_gives_identical_inputs_and_truth(tmp_path):
    gen.generate(str(tmp_path / "a"), 7, SMALL)
    gen.generate(str(tmp_path / "b"), 7, SMALL)
    gen.generate(str(tmp_path / "c"), 8, SMALL)
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert "truth.csv" in a and "device_catalog.csv" in a
    assert any(k.startswith("ticks") for k in a)
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_truth_counts_every_seeded_defect(tmp_path):
    m = gen.generate(str(tmp_path), 3, SMALL)
    p = m["parts"][0]
    lines = []
    for f in sorted(os.listdir(p["path"])):
        with open(os.path.join(p["path"], f)) as fh:
            lines += fh.read().splitlines()
    assert len(lines) == p["events"]
    # duplicates add lines, the other defects remove survivors
    assert len(set(lines)) < p["events"]
    assert p["survivors"] < len(set(lines))
    assert sum(q["events"] for q in m["parts"][1:]) > 0


@pytest.fixture(scope="module")
def truth(tmp_path_factory):
    m = gen.generate(str(tmp_path_factory.mktemp("t")), 11, SMALL)
    t = Truth(m["truth"])
    yield t
    t.close()


def test_bround_is_half_even():
    assert bround(0.125, 2) == 0.12
    assert bround(0.135, 2) == 0.14
    assert bround(2.0005, 3) == 2.0


def test_count_check(truth):
    n = truth.silver_rows(0)
    assert check_count("silver", n, n) == []
    assert check_count("silver", n - 1, n)


def test_gold_check(truth):
    want = truth.gold_by_date(2)
    assert len(want) >= 2
    assert check_gold(dict(want), want) == []
    d = sorted(want)[-1]
    n, e = want[d]
    assert check_gold({**want, d: (n + 1, e)}, want)
    assert check_gold({**want, d: (n, e + 0.01)}, want)
    assert check_gold({**want, d: (n, e - 0.001)}, want)
    assert check_gold({k: v for k, v in want.items() if k != d}, want)
    # the stale-gold defect: the totals of an earlier tick
    assert check_gold(truth.gold_by_date(1), want)


def _ok_results(want: dict) -> dict:
    """Each query's result as a correct program would return it."""
    live = []
    keys = sorted(want["live_readings"]["values"])
    for ts in want["live_readings"]["ts"]:
        k = next(k for k in keys if k[1] == ts and k not in {(r[0], r[1]) for r in live})
        live.append((k[0], ts, *want["live_readings"]["values"][k]))
    health = {
        dv: {**row, "health_score": bround(row["health_score"], 3)}
        for dv, row in want["health_scatter"].items()
    }
    return {
        "kpi": dict(want["kpi"]),
        "energy_by_device_type": dict(want["energy_by_device_type"]),
        "daily_energy_trend": list(want["daily_energy_trend"]),
        "daily_cost_trend": list(want["daily_cost_trend"]),
        "health_scatter": health,
        "live_readings": live,
        "data_status": dict(want["data_status"]),
    }


def _perturbed(name: str, got):
    got = copy.deepcopy(got)
    if name == "kpi":
        got["total_energy_kwh"] += 0.01
    elif name == "energy_by_device_type":
        k = sorted(got)[0]
        got[k] += 0.01
    elif name in ("daily_energy_trend", "daily_cost_trend"):
        d, v = got[-1]
        got[-1] = (d, v + 0.01)
    elif name == "health_scatter":
        row = got[sorted(got)[0]]
        row["health_score"] += 0.01
    elif name == "live_readings":
        dv, ts, tp, pw = got[0]
        got[0] = (dv, ts, tp + 1.0, pw)
    elif name == "data_status":
        n, lo, hi = got["silver"]
        got["silver"] = (n - 1, lo, hi)
    return got


@pytest.mark.parametrize(
    "name",
    [
        "kpi",
        "energy_by_device_type",
        "daily_energy_trend",
        "daily_cost_trend",
        "health_scatter",
        "live_readings",
        "data_status",
    ],
)
def test_dashboard_check_rejects_perturbed_result(truth, name):
    want = truth.dashboard(0)
    got = _ok_results(want)[name]
    assert check_query(name, got, want) == []
    assert check_query(name, _perturbed(name, got), want)


def test_kpi_check_rejects_fallback_source_and_stale_gold(truth):
    want = truth.dashboard(2)
    got = dict(want["kpi"])
    assert check_query("kpi", {**got, "kpi_source": "silver_24h"}, want)
    stale = truth.kpi(1, want["today"])
    assert check_query("kpi", stale, want)


def test_live_readings_check_rejects_missing_row(truth):
    want = truth.dashboard(0)
    got = _ok_results(want)["live_readings"]
    assert check_query("live_readings", got[1:], want)


def test_written_outputs_are_read_from_disk(truth, tmp_path):
    silver = tmp_path / "silver" / "date=2024-06-01"
    silver.mkdir(parents=True)
    gold = tmp_path / "gold" / "daily_energy_consumption"
    gold.mkdir(parents=True)
    truth.con.execute(
        f"COPY (SELECT * FROM t WHERE part = 0) TO '{silver}/part-0.parquet'"
    )
    truth.con.execute(
        f"""COPY (SELECT CAST(ts AS DATE) AS date, count(*) AS total_readings,
                         sum(e) AS energy_consumption_wh_sum
                  FROM t WHERE part = 0 GROUP BY ALL)
            TO '{gold}/part-0.parquet'"""
    )
    assert truth.written_rows(str(tmp_path / "silver")) == truth.silver_rows(0)
    assert check_gold(truth.written_gold_by_date(str(tmp_path / "gold")), truth.gold_by_date(0)) == []


def test_per_layer_metrics_are_the_ones_benchmark_json_lists():
    import argparse

    import run

    b = run.Bench(argparse.Namespace(workload="backfill", seed=1, seconds=1, trace=1))
    assert set(run.per_layer(b)) == set(run.listed_units(1))
