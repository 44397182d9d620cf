#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke_test.py

From the repository root. Runs every workload once untraced and once
traced with a 1-second budget and asserts that the result line carries
exactly the metrics BENCHMARK.json names, each finite, with every output
correct. Then asserts two refusals, each exiting non-zero without a
result line: the driver under GRAFT_HARNESS_FILES_PER_TRIGGER (as Bench
and Verify refuse it), and a directory holding only the benchmark.
"""
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(cwd=ROOT, env=None, workload="ngs_batch", trace=0):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"),
                           "--workload", workload, "--seed", "1", "--seconds", "1",
                           "--trace", str(trace)],
                          cwd=cwd, env=env, stdout=subprocess.PIPE, text=True, timeout=900)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in spec["workloads"]:
        for trace in (0, 1):
            p = bench(workload=w["name"], trace=trace)
            assert p.returncode == 0, f"{w['name']} trace={trace} exited {p.returncode}"
            res = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] is True and res["failed"] == 0, res
            assert res["attempted"] >= 1
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want[trace], (w["name"], trace, set(got) ^ set(want[trace]))
            bad = [k for k, v in res["metrics"].items()
                   if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
            assert not bad, (w["name"], trace, bad)
            print(f"ok {w['name']} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} operations")

    p = bench(env=dict(os.environ, GRAFT_HARNESS_FILES_PER_TRIGGER="2"))
    assert p.returncode != 0 and not p.stdout.strip(), "ran under the probe-only override"
    print("ok refuses GRAFT_HARNESS_FILES_PER_TRIGGER")

    bare = os.path.join(ROOT, ".bench_build", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = bench(cwd=bare)
    assert p.returncode != 0 and not p.stdout.strip(), "ran without the program's sources"
    shutil.rmtree(bare)
    print("ok refuses a directory without the program")


if __name__ == "__main__":
    main()
