"""The benchmark's own tests: generator determinism, metric names, and a
run of every workload on a tiny input that completes with no failed
operation.

    python3 -m pytest coldwarm/test_coldwarm.py
"""
import hashlib
import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def file_hashes(d):
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    info = gen.generate(workload, 7, a, 0.05)
    assert gen.generate(workload, 7, b, 0.05) == info
    gen.generate(workload, 8, c, 0.05)
    assert file_hashes(a) == file_hashes(b)
    # fixed dimension tables may repeat; the fact tables must not
    differ = [f for f, h in file_hashes(a).items() if file_hashes(c)[f] != h]
    assert differ and info["bytes"] > 0


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END_UNITS
    assert layer == run.per_layer_units()
    names = [w["name"] for w in bench["workloads"]] + list(e2e) + list(layer)
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(u) for u in list(e2e.values()) + list(layer.values()))
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().split("\n")[-1])


@pytest.mark.parametrize("workload,trace", [("tlq_report", 0), ("tlq_report", 1),
                                            ("curation", 1)])
def test_tiny_run_has_no_failed_operation(workload, trace):
    r = bench("--workload", workload, "--seed", "5", "--seconds", "1",
              "--trace", str(trace), "--scale", "0.02")
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 2
    want = run.per_layer_units() if trace else run.END_TO_END_UNITS
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in r["metrics"].values())
