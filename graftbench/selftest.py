#!/usr/bin/env python3
"""Self-test of the benchmark's own code.

Usage (from the repository root): python3 graftbench/selftest.py

1. The median and geometric-mean code is checked on known inputs, and
   a round in which an operation failed is shown to count for no metric.
2. BENCHMARK.json names exactly the metrics run.py prints.
3. The checker is fed a finished analytics_sql run (made first when
   graftbench/work/analytics_sql holds none) and then two deliberately
   corrupted copies of one result, one with a changed cell and one with a
   dropped row; the clean copy must pass and each corrupted one must fail.
"""
import json
import os
import shutil
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402


def check_stats():
    assert run.median([3.0, 1.0, 2.0]) == 2.0
    assert run.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert run.median([]) == 0.0
    assert abs(run.geomean([1.0, 4.0, 16.0]) - 4.0) < 1e-12
    assert abs(run.geomean([2.0, 8.0]) - 4.0) < 1e-12
    assert abs(run.geomean([0.5, 0.5, 0.5]) - 0.5) < 1e-12


def check_failed_round():
    def op(name, rnd, lat, ok=True, phase="round"):
        return {"name": name, "phase": phase, "round": rnd, "latency_s": lat, "ok": ok}
    result = {
        "setup": {"create_s": 1.0, "warmup_s": 2.0},
        "rounds": [{"phase": "round", "round": 0, "wall_s": 5.0},
                   {"phase": "round", "round": 1, "wall_s": 1.0}],
        # round 1 is fast only because its second operation failed at once
        "ops": [op("a", 0, 2.0), op("b", 0, 3.0), op("a", 1, 0.5), op("b", 1, 0.01, ok=False),
                op("a", 0, 9.0, phase="setup")],
    }
    m = run.end_to_end(result)
    assert m["setup_s"] == 3.0
    assert m["wall_s"] == 5.0, m
    assert abs(m["op_geomean_s"] - 6.0 ** 0.5) < 1e-12, m


def check_manifest():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END, (e2e, run.END_TO_END)
    assert layer == run.PER_LAYER, set(layer) ^ set(run.PER_LAYER)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def check_checker():
    src = os.path.join(HERE, "work", "analytics_sql")
    if not os.path.exists(os.path.join(src, "run.json")):
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                        "analytics_sql", "--seed", "1", "--seconds", "1", "--trace", "0"],
                       check=True, stdout=subprocess.DEVNULL)
    work = os.path.join(HERE, "work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    shutil.copytree(src, work)
    with open(os.path.join(work, "check.json")) as fh:
        check = json.load(fh)
    data = run.DATA

    def failures():
        return checks.check_run("analytics_sql", data, work, check)

    assert failures() == [], failures()
    target = os.path.join(work, "results", "q6_orders_per_cust")
    files = sorted(f for f in os.listdir(target) if f.endswith(".parquet"))
    part = os.path.join(target, next(f for f in files if len(pd.read_parquet(os.path.join(target, f)))))
    clean = pd.read_parquet(part)
    clean.to_parquet(part, index=False)
    assert failures() == [], "a rewrite of the unchanged result failed"

    changed = clean.copy()
    col = next(c for c in changed.columns if pd.api.types.is_numeric_dtype(changed[c]))
    changed.loc[changed.index[0], col] = changed[col].iloc[0] + 1
    changed.to_parquet(part, index=False)
    assert any(f.startswith("q6_orders_per_cust") for f in failures()), "changed cell passed"

    clean.iloc[1:].to_parquet(part, index=False)
    assert any(f.startswith("q6_orders_per_cust") for f in failures()), "dropped row passed"
    shutil.rmtree(work)


if __name__ == "__main__":
    check_stats()
    check_failed_round()
    check_manifest()
    check_checker()
    print("selftest passed")
