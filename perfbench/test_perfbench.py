"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The smoke tests start Spark in a subprocess per workload and trace mode
(about half a minute each); the rest run without Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import procfs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run_bench(*args, cwd=ROOT, timeout=300):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]] + ["curation"])
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    proc = run_bench("--workload", workload, "--seed", "3", "--seconds", "1",
                     "--trace", str(trace), "--size", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = last_json(proc.stdout)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in declared}
    lines = proc.stdout.splitlines()
    for m in declared:
        assert any(line.startswith(f"{m['name']} ") and f" {m['unit']}" in line for line in lines), m
    assert any(line.startswith("error_rate 0 1 ") for line in lines)
    if not trace:
        for m in declared:
            assert out["metrics"][m["name"]]["value"] > 0, m
        rss = [line.split() for line in lines if line.startswith("peak_rss_mb ")]
        assert rss and float(rss[0][1]) > 0 and rss[0][2] == "MB"


def test_wrong_result_shows_up_in_error_rate():
    proc = run_bench("--workload", "tail_queries", "--seed", "3", "--seconds", "1",
                     "--size", "tiny", "--fault")
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = last_json(proc.stdout)
    assert out["correct"] is False and out["failed"] == 1
    rate = [line for line in proc.stdout.splitlines() if line.startswith("error_rate ")][0]
    assert float(rate.split()[1]) == pytest.approx(1 / out["attempted"])


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("--workload", "exposure", "--seed", "1", "--seconds", "1", cwd=str(tmp_path), timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_tables_are_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    datagen.write_tables(a, 0.001, 5)
    datagen.write_tables(b, 0.001, 5)
    datagen.write_tables(c, 0.001, 6)
    for name in ("lineitem", "documents", "events"):
        ta = pd.read_parquet(f"{a}/{name}.parquet")
        assert ta.equals(pd.read_parquet(f"{b}/{name}.parquet"))
        assert not ta.equals(pd.read_parquet(f"{c}/{name}.parquet"))
    docs = pd.read_parquet(f"{a}/documents.parquet")
    assert (docs["text"].str.len() == docs["n_chars"]).all()
    assert docs["text"].str.endswith(" dup").sum() == int(len(docs) * datagen.DUP_SHARE)


def test_study_points_half_clustered():
    box = (0.0, 0.0, 1000.0, 1000.0)
    pts = datagen.study_points(400, 9, box)
    assert pts.equals(datagen.study_points(400, 9, box))
    assert pts["x"].between(0, 1000).all() and pts["y"].between(0, 1000).all()
    # clustered points pile up: the densest 5 % of a 10x10 grid holds far more
    # than the 5 % a uniform draw would put there
    cells = np.histogram2d(pts["x"], pts["y"], bins=10, range=[[0, 1000], [0, 1000]])[0].ravel()
    assert np.sort(cells)[-5:].sum() > 0.2 * len(pts)


def test_digest_ignores_row_order_but_not_values():
    df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.0], "s": ["a", "b", None]})
    shuffled = df.iloc[[2, 0, 1]].reset_index(drop=True)
    assert workloads.digest(df) == workloads.digest(shuffled)
    assert workloads.digest(df) != workloads.digest(df.iloc[:2])
    changed = df.copy()
    changed.loc[0, "v"] = 0.25
    assert workloads.digest(df) != workloads.digest(changed)


def test_brute_force_segment_distance():
    line = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0]])
    got = workloads._min_segment_distance(np.array([5.0, 12.0, -3.0]), np.array([2.0, 5.0, -4.0]), [line])
    assert np.allclose(got, [2.0, 2.0, 5.0])


def test_spans_nest_and_attribute_event_log(tmp_path):
    tracer = spans.Tracer("r1")
    with tracer.span("off"):
        pass
    assert tracer.spans == []
    tracer.enabled = True
    with tracer.span("pass", pass_no=1):
        with tracer.span("queries.build"):
            pass
        with tracer.span("queries.collect") as sp:
            sp["counts"]["rows"] = 3
    names = [(s["name"], s["parent"]) for s in tracer.spans]
    assert names == [("pass", None), ("queries.build", 0), ("queries.collect", 0)]
    assert all(s["end"] >= s["start"] and s["run_id"] == "r1" for s in tracer.spans)

    def task(stage, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": 2e9, "JVM GC Time": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2}}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "r1:1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "other:1"}},
        task(0, 500), task(1, 250), task(1, 250), task(2, 1000),
    ]
    log = tmp_path / "log"
    log.write_text("\n".join(json.dumps(e) for e in events))
    got = spans.attribute_event_log(str(log), tracer)
    assert list(got) == [1]
    assert got[1]["jobs"] == 1 and got[1]["stages"] == 2 and got[1]["tasks"] == 3
    assert got[1]["run_s"] == pytest.approx(1.0) and got[1]["cpu_s"] == pytest.approx(6.0)
    assert got[1]["shuffle_write_bytes"] == 300 and got[1]["shuffle_read_bytes"] == 9


def test_procfs_sees_this_process_and_children():
    before = procfs.snapshot()
    child = subprocess.Popen([sys.executable, "-c", "import time; sum(range(10**7)); time.sleep(1)"])
    try:
        assert child.pid in procfs.descendants()
        snap = procfs.snapshot()
        assert snap["driver"]["rss_mb"] > 0
        assert procfs.tree_rss(snap) > snap["driver"]["rss_mb"]
    finally:
        child.wait(timeout=30)
    cpu = [sum(s[r]["cpu_s"] for r in procfs.ROLES) for s in (before, procfs.snapshot())]
    assert cpu[1] >= cpu[0]
    assert os.getpid() not in procfs.foreign_spark_jvms()


def test_pass_time_ignores_a_burst_in_one_operation():
    def one_pass(**ops):
        meter = run.Meter()
        meter.wall.update(ops)
        meter.cpu.update({op: 2 * t for op, t in ops.items()})
        return run.Pass(1, False, 0.0, sum(ops.values()), {}, {}, 0, {}, meter, (0, 0))

    passes = [one_pass(a=1.0, b=2.0), one_pass(a=1.1, b=2.0), one_pass(a=5.0, b=2.1), one_pass(a=1.0, b=9.0)]
    assert run.op_median_sum(passes, "wall") == pytest.approx(1.05 + 2.05)
    assert run.op_median_sum(passes, "cpu") == pytest.approx(2 * (1.05 + 2.05))
    assert run.op_median_sum([], "wall") == 0.0


def test_meter_times_each_operation():
    meter = run.Meter()
    with meter("spin"):
        sum(range(10**6))
    assert set(meter.wall) == set(meter.cpu) == {"spin"}
    assert meter.wall["spin"] > 0 and meter.cpu["spin"] >= 0
    assert procfs.steal_s() >= 0
