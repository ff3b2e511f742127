"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The first tests are fast (no Spark).  The end-to-end ones run each
workload once at a tiny size (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import common, gen, stream  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def test_same_seed_same_events_other_seed_other_events():
    assert gen.iot_events(3, 500) == gen.iot_events(3, 500)
    assert gen.iot_events(3, 500) != gen.iot_events(4, 500)
    assert gen.iot_events(3, 500, 500) != gen.iot_events(3, 500, 0)
    assert gen.device_table(3) == gen.device_table(3)
    assert gen.device_table(3) != gen.device_table(4)


def test_event_properties():
    ev = gen.iot_events(1, 20000)
    assert [e["seq"] for e in ev] == list(range(20000))
    behind = [gen.T0_MS + e["seq"] * gen.EVENT_SPACING_MS - e["ts"] for e in ev]
    late = sum(b >= gen.LATE_MS[0] for b in behind) / len(ev)
    ooo = sum(0 < b <= gen.OOO_MAX_MS for b in behind) / len(ev)
    assert abs(late - gen.LATE_FRAC) < 0.005
    assert abs(ooo - gen.OOO_FRAC) < 0.01
    assert all(b == 0 or b <= gen.OOO_MAX_MS or b >= gen.LATE_MS[0]
               for b in behind)


def test_same_seed_same_tables(tmp_path):
    import pyarrow.parquet as pq

    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.make_tables(seed, str(tmp_path / d))
    for t in ("lineitem", "documents", "embeddings", "events"):
        a, b, c = (pq.read_table(tmp_path / d / f"{t}.parquet")
                   for d in "abc")
        assert a.equals(b)
        assert not a.equals(c)


def test_verifier_flags_a_perturbed_row():
    rows = [{"device_id": "dev-001", "seq": i, "temp": 20.5 + i}
            for i in range(50)]
    assert common.compare(ROOT, rows, list(reversed(rows)))[0] == 0
    bad = [dict(r) for r in rows]
    bad[7]["temp"] += 0.01
    n, detail = common.compare(ROOT, bad, rows)
    assert n == 1 and "only-got" in detail
    assert common.compare(ROOT, rows[:-1], rows)[0] == 1


def test_window_check_flags_a_perturbed_window():
    key = ("dev-002", 1700000000)
    row = {"device_id": key[0], "ws": key[1], "cnt": 3, "total": 9.5,
           "max_t": 4.0}
    late = {**row, "cnt": 2, "total": 5.5}
    allowed = {key: [row, late]}
    closed = {key}
    assert stream._check_windows(ROOT, [late], allowed, closed)[0] == 0
    assert stream._check_windows(ROOT, [{**row, "cnt": 4}], allowed,
                                 set())[0] == 1
    assert stream._check_windows(ROOT, [{**row, "ws": 0}], allowed,
                                 set())[0] == 1


def test_window_check_flags_a_missing_closed_window():
    rows = [{"device_id": "dev-002", "ws": 1700000000 + 2 * i, "cnt": i + 1,
             "total": 1.5, "max_t": 4.0} for i in range(3)]
    allowed = {(r["device_id"], r["ws"]): [r] for r in rows}
    closed = set(allowed)
    assert stream._check_windows(ROOT, rows, allowed, closed)[0] == 0
    # one window dropped: the other two still match their batch rows
    n, detail = stream._check_windows(ROOT, rows[:1] + rows[2:], allowed,
                                      closed)
    assert n == 1 and "first missing" in detail
    # a window the watermark has not closed yet may be absent
    assert stream._check_windows(ROOT, rows[:2], allowed,
                                 closed - {("dev-002", rows[2]["ws"])})[0] == 0


def test_without_the_program_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "edge", "--seed", "1", "--seconds", "1", "--trace",
                        "0"], cwd=tmp_path, capture_output=True, text=True,
                       timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        workload, "--seed", "7", "--seconds", "1", "--trace",
                        str(trace)], cwd=ROOT, capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_prints_every_metric_with_its_unit(workload):
    out = _run(workload, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    out = _run("edge", 1)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert out["metrics"]["trace.program_frac"]["value"] >= 0.9
