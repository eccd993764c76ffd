"""The lane runner's contract (bench.py), checked without a Spark session:
one JSON line on stdout with the driver's keys, -1.0 for a failed lane,
and ``value`` the sum of the lanes that ran."""

import json

import pytest

import bench


def _ok(spark, inp):
    inp["calls"] += 1


def _fails_on_third_call(spark, inp):
    inp["flaky"] += 1
    if inp["flaky"] == 3:
        raise RuntimeError("lane broke")


def _fails_in_warm_up(spark, inp):
    raise RuntimeError("lane broke")


LANES = (
    ("ok", _ok),
    ("flaky", _fails_on_third_call),
    ("broken", _fails_in_warm_up),
)


def test_main_prints_one_contract_line(monkeypatch, capsys):
    state = {"calls": 0, "flaky": 0}
    monkeypatch.setattr(bench, "session", lambda work: "spark")
    monkeypatch.setattr(bench.host, "stop_session", lambda spark: None)
    monkeypatch.setattr(bench, "Inputs", lambda spark, work: state)
    monkeypatch.setattr(bench, "LANES", LANES)
    bench.main()

    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1
    got = json.loads(lines[0])
    assert set(got) == {"metric", "value", "unit", "queries", "sf"}
    assert got["metric"] == "total_bench_sec" and got["unit"] == "sec"
    assert got["sf"] == bench.parse_sf(bench.SF_DIR)
    q = got["queries"]
    assert list(q) == ["ok", "flaky", "broken"]
    assert q["flaky"] == -1.0 and q["broken"] == -1.0 and q["ok"] >= 0
    # one untimed warm-up pass, then RUNS timed passes
    assert state["calls"] == bench.RUNS + 1
    assert got["value"] == q["ok"]


def test_result_line_sums_the_lanes_that_ran():
    got = json.loads(bench.result_line(
        {"a": 1.25, "b": -1.0, "c": 2.5, "d": 0.0}, 0.001
    ))
    assert got == {
        "metric": "total_bench_sec",
        "value": 3.75,
        "unit": "sec",
        "queries": {"a": 1.25, "b": -1.0, "c": 2.5, "d": 0.0},
        "sf": 0.001,
    }


@pytest.mark.parametrize("sf_dir, sf", [
    ("/data/sf0.001", 0.001), ("/data/sf1/", 1.0), ("/data/sfX", "X"),
])
def test_parse_sf(sf_dir, sf):
    assert bench.parse_sf(sf_dir) == sf


def test_lane_table_names_unique_and_callable():
    names = [name for name, _ in bench.LANES]
    assert len(names) == len(set(names))
    assert all(callable(fn) for _, fn in bench.LANES)
