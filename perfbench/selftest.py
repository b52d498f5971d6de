#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload, untraced and traced, on
tiny inputs. Asserts that each metric BENCHMARK.json names is printed
with its unit, that no operation failed, and that run.py refuses to run
(non-zero exit, no result) without the engine sources next to it.

    python3 perfbench/selftest.py
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def result(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "2", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in [w["name"] for w in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = result(w, trace)
            assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
            if not (r["correct"] and r["failed"] == 0 and r["attempted"] >= 1):
                problems.append(f"{w} trace={trace}: correct={r['correct']} "
                                f"failed={r['failed']}/{r['attempted']}")
            for m in spec[key]:
                got = r["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] \
                        or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{w} trace={trace}: {m['name']} printed as {got}")
            extra = set(r["metrics"]) - {m["name"] for m in spec[key]}
            if extra:
                problems.append(f"{w} trace={trace}: undeclared metrics {sorted(extra)}")
            print(f"ok {w} trace={trace}: {len(r['metrics'])} metrics, "
                  f"{r['attempted']} checked", flush=True)

    # without the engine sources the benchmark must refuse to run
    bare = os.path.join(HERE, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "target"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        spec["workloads"][0]["name"], "--seed", "1", "--seconds", "2",
                        "--trace", "0"], cwd=bare, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or '"correct"' in p.stdout:
        problems.append("run.py produced a result without the engine sources")

    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
