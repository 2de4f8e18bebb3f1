"""Tests of the benchmark itself: deterministic inputs, output names that
match BENCHMARK.json, and the append median over every wave.

    python3 -m pytest perfbench -q

The end-to-end cases run the benchmark itself, on its real inputs (about a
minute each). Everything they write stays under ``.perfbench_work/tests``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORK = os.path.join(ROOT, ".perfbench_work", "tests")


def _run(work, workload: str, seed: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", "1", "--trace",
         str(trace), "--work", work],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def work():
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    return WORK


@pytest.fixture(scope="module")
def untraced(work):
    return _run(work, "small-files", 3, 0)


def test_spec_is_within_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [w["name"] for w in SPEC["workloads"]]
    assert 2 <= len(names) <= 8
    assert sorted(names) == sorted(inputs.WORKLOADS)
    metrics = SPEC["end_to_end"] + SPEC["per_layer"]
    all_names = names + [m["name"] for m in metrics]
    assert len(set(all_names)) == len(all_names)
    assert all(name.match(n) for n in all_names)
    assert all(unit.match(m["unit"]) for m in metrics)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"]
               for w in SPEC["workloads"])
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert 1 <= len(SPEC["per_layer"]) <= 128


def test_same_seed_gives_identical_inputs(work):
    a = inputs.ensure(os.path.join(work, "a"), "small-files", 5, 2)
    b = inputs.ensure(os.path.join(work, "b"), "small-files", 5, 2)
    c = inputs.ensure(os.path.join(work, "c"), "small-files", 6, 2)
    for key in ("base", "append", "warm"):
        for fa, fb in zip(a[key], b[key]):
            with open(fa, "rb") as ha, open(fb, "rb") as hb:
                assert ha.read() == hb.read(), (fa, fb)
    assert a["base_totals"] == b["base_totals"]
    assert a["base_totals"] != c["base_totals"]


def test_untraced_output_names_match_spec(untraced):
    assert untraced["correct"] and untraced["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    got = {k: v["unit"] for k, v in untraced["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in untraced["metrics"].values())


def test_same_seed_gives_identical_size_ratio(work, untraced):
    again = _run(work, "small-files", 3, 0)
    key = "size_vs_parquet_zstd"
    assert again["metrics"][key]["value"] == untraced["metrics"][key]["value"]


def test_append_reports_the_median_of_every_wave(work, untraced):
    with open(os.path.join(work, "last_run.json")) as fh:
        last = json.load(fh)
    waves = last["samples"]["append_wave_s"]
    assert len(waves) == inputs.APPEND_FILES
    med = statistics.median(waves)
    assert last["metrics"]["append_wave_p50_s"] == med
    assert sum(1 for w in waves if w > med) == len(waves) // 2


def test_traced_output_names_match_spec(work):
    res = _run(work, "large-files", 4, 1)
    assert res["correct"] and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["manifest.records_read"] == (inputs.APPEND_FILES - 1) / 2
    # the named layers cover the replayed task wall, and the driver spans
    # the encode_path wall, to within 10%
    assert 0.9 <= m["task.attributed_frac"] <= 1.0
    assert 0.9 <= m["pipeline.attributed_frac"] <= 1.0
    assert 0 < m["trace.overhead_frac"] < 0.01
    traces = os.path.join(work, "traces")
    spans = [json.loads(ln) for name in os.listdir(traces)
             if name.startswith("large-files-s4-t1")
             for ln in open(os.path.join(traces, name))]
    assert {"name", "start", "end", "parent", "run_id"} <= set(spans[0])
