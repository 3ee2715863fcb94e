"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke test starts Spark on the sf0.001 tables (about a minute)."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import gate, workloads, worker  # noqa: E402
from perfbench.trace import covered, self_time  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _queries():
    from secdb_spark.registry import all_queries

    return all_queries()


def _data_dir(sf: str) -> str:
    from secdb_spark.catalog import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(DEFAULT_SF_DIR), sf)


def _pass(kind: str, traced: bool, calls, t: float = 1.0) -> dict:
    """A canned pass record over `calls`, every phase taking `t` s."""
    samples = [
        {"id": c.id, "layer": c.layer, "ok": True, "build_s": t, "exec_s": t,
         "build_jobs": 1, "build_stages": 1, "build_tasks": 1,
         "exec_jobs": 2, "exec_stages": 3, "exec_tasks": 4}
        for c in calls
    ]
    rec = {"kind": kind, "traced": traced, "wall_s": 2 * t * len(calls),
           "cpu_s": {"driver": 1.0, "jvm": 2.0, "pyworker": 3.0},
           "samples": samples}
    if traced:
        rec.update(gc_s=0.1, self_s=0.0)
    return rec


def test_headline_is_bench_py_headline():
    import bench

    assert workloads.HEADLINE_OPS == tuple(bench.HEADLINE.values())


def test_workload_names_match_spec():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


def test_metric_names_and_units_match_spec():
    calls = workloads.calls("api_secdb", _queries())
    cold = _pass("cold", True, calls)
    passes = [_pass("steady", i % 2 == 0, calls) for i in range(3)]
    e2e = worker.end_to_end(cold, passes, {}, 9.0)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == {
        k: u for k, (_, u) in e2e.items()}
    setup = {"registry.import_s": 1.0, "session.get_spark_s": 5.0, "engine.init_s": 2.0}
    layer = worker.per_layer(
        setup, cold, passes, 4, 1000.0, {"driver": 1.0, "jvm": 2.0, "pyworker": 3.0})
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == {
        k: u for k, (_, u) in layer.items()}
    assert e2e["pass_s"][0] == 2.0 * len(calls)
    assert e2e["ok_ratio"][0] == 1.0
    assert layer["registry.build_jobs"][0] == len(workloads.SECDB_OPS)
    assert layer["api.build_jobs"][0] == len(calls) - len(workloads.SECDB_OPS)
    assert layer["call.build_secdb.exec_tasks"][0] == 4
    assert layer["call.dedup_near.exec_tasks"][0] == 0  # not in this workload
    assert layer["sources_sinks.xbrl_parse_s"][0] == 1.0


def test_spec_follows_the_contract():
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in SPEC[k]]
    assert len(names) == len(set(names)) and all(name.match(n) for n in names)
    assert all(unit.match(m["unit"]) for k in ("end_to_end", "per_layer") for m in SPEC[k])
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert 1 <= len(SPEC["per_layer"]) <= 128


def test_self_time_on_canned_spans():
    with open(os.path.join(HERE, "spans_canned.json")) as fh:
        spans = json.load(fh)["spans"]
    by_name = {s["name"]: s for s in spans}
    # pass 0..10 with children 1..3 and 2..5 (overlapping) and 7..8
    assert self_time(by_name["pass.steady"], spans) == pytest.approx(10 - 4 - 1)
    # run 0..12 holds the pass 0..10
    assert self_time(by_name["run"], spans) == pytest.approx(2)
    assert self_time(by_name["agg_group.exec"], spans) == pytest.approx(3)
    assert covered([(5, 20)], 0, 10) == pytest.approx(5)
    assert covered([(1, 4), (2, 3)], 0, 10) == pytest.approx(3)


def test_goldens_match_live_oracles():
    sf_dir = _data_dir("sf0.001")
    queries = _queries()
    con = gate.duck_views(sf_dir)
    try:
        with open(gate.GOLDENS_PATH) as fh:
            entry = json.load(fh)["sf0.001"]
        assert entry["data"] == gate.data_identity(sf_dir)
        for w in workloads.WORKLOADS:
            for c in workloads.calls(w, queries):
                assert entry["checks"][c.id] == gate.live_golden(c, con), c.id
    finally:
        con.close()


def test_run_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "headline",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""


def test_gate_refuses_data_without_goldens(tmp_path):
    src = _data_dir("sf0.001")
    for name in ("sf0.001", "sf_other"):
        d = tmp_path / name
        d.mkdir()
        for t in gate.TABLES:
            shutil.copy(f"{src}/{t}.parquet", d)
    with open(tmp_path / "sf0.001" / "events.parquet", "ab") as fh:
        fh.write(b"\0")  # same name, other sizes
    for name in ("sf0.001", "sf_other"):
        with pytest.raises(LookupError):
            gate.Gate(str(tmp_path / name))


def test_one_pass_smoke_gates_and_counts_a_wrong_output(tmp_path, monkeypatch):
    import tempfile

    # the per-run isolation run.py gives the measured process
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "local"))
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "warehouse"))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    monkeypatch.setenv(
        "JAVA_TOOL_OPTIONS", f"-Djava.io.tmpdir={tmp_path} -XX:+PerfDisableSharedMem")
    from secdb_spark.session import get_spark

    sf_dir = _data_dir("sf0.001")
    spark = get_spark("perfbench-test", shuffle_partitions=4)
    runner = worker.Runner(spark, sf_dir)
    g = gate.Gate(sf_dir)
    queries = _queries()
    agg = workloads.calls("headline", queries)[0]
    wrong_call = workloads.Call(
        agg.id, agg.layer, lambda s, d: agg.build(s, d).limit(1), agg.check)
    calls = [c for w in workloads.WORKLOADS for c in workloads.calls(w, queries)]
    try:
        outputs: dict = {}
        cold = runner.run_pass(calls, "cold", False, outputs=outputs)
        assert worker.check_all(calls, outputs, g) == {}
        assert worker.counts(cold, [], {}) == (len(calls), 0)

        outputs = {}
        bad = runner.run_pass([wrong_call], "cold", False, outputs=outputs)
        wrong = worker.check_all([wrong_call], outputs, g)
        assert set(wrong) == {agg.id}
        assert worker.counts(bad, [], wrong) == (1, 1)
        e2e = worker.end_to_end(bad, [bad, bad], wrong, 1.0)
        assert e2e["ok_ratio"][0] == 0.0
    finally:
        spark.stop()
