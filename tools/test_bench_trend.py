#!/usr/bin/env python3
"""Unit coverage for tools/bench_trend.py's work-counter listing: a
query is listed, with both sides' jobs and executor times, when its
job count changed or an executor time moved past the threshold.
Plain-assert script, no test framework:

    python3 tools/test_bench_trend.py
"""
import contextlib
import io
import json
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import bench_trend  # noqa: E402


def artifact(rows, executor=True):
    """A minimal Bench artifact from {query: (secs, jobs, run_s, cpu_s)}."""
    art = {"queries": {q: r[0] for q, r in rows.items()},
           "jobs": {q: r[1] for q, r in rows.items()}, "cpu_1t": 0.03}
    if executor:
        art["executor_run_s"] = {q: r[2] for q, r in rows.items()}
        art["executor_cpu_s"] = {q: r[3] for q, r in rows.items()}
    return art


def trend(ref, cur):
    """bench_trend's stdout lines for the two artifacts."""
    with tempfile.TemporaryDirectory() as td:
        paths = []
        for name, art in (("ref.json", ref), ("cur.json", cur)):
            p = Path(td) / name
            p.write_text(json.dumps(art))
            paths.append(str(p))
        out = io.StringIO()
        old_argv = sys.argv
        sys.argv = ["bench_trend.py"] + paths
        try:
            with contextlib.redirect_stdout(out):
                assert bench_trend.main() == 0
        finally:
            sys.argv = old_argv
    return out.getvalue().splitlines()


def listed(lines):
    """{query: row} of the moved-query listing."""
    start = next(i for i, l in enumerate(lines)
                 if l.startswith("queries whose job count"))
    return {l.split()[0]: l for l in lines[start + 1:]
            if l.startswith("  q_")}


def main():
    ref = artifact({
        "q_same": (1.0, 4, 2.000, 1.500),
        "q_jobs": (1.0, 4, 2.000, 1.500),
        "q_cpu": (1.0, 4, 2.000, 1.500),
        "q_run": (1.0, 4, 2.000, 1.500),
        "q_small": (1.0, 4, 2.000, 1.500),
        "q_tiny": (0.1, 2, 0.010, 0.008),
    })
    cur = artifact({
        "q_same": (1.0, 4, 2.000, 1.500),
        "q_jobs": (0.9, 3, 2.000, 1.500),   # one job fewer
        "q_cpu": (1.0, 4, 2.000, 0.700),    # cpu time halved
        "q_run": (1.0, 4, 2.900, 1.500),    # run time +45%
        "q_small": (1.0, 4, 2.300, 1.700),  # +15%: noise, not listed
        "q_tiny": (0.1, 2, 0.040, 0.030),   # 4x, but under the floor
    })
    lines = trend(ref, cur)
    assert "queries whose job count or executor time moved: 3" in lines, lines
    rows = listed(lines)
    assert set(rows) == {"q_jobs", "q_cpu", "q_run"}, rows
    # both sides' values are printed for each listed query
    assert rows["q_jobs"].split() == [
        "q_jobs", "4", "->", "3", "2.000", "->", "2.000",
        "1.500", "->", "1.500"], rows["q_jobs"]
    assert "1.500 ->   0.700" in rows["q_cpu"], rows["q_cpu"]
    assert "2.000 ->   2.900" in rows["q_run"], rows["q_run"]
    assert any("executor_run_s" in l and "executor_cpu_s" in l
               for l in lines), lines

    # a query one side lacks an executor time for is judged on jobs
    cur_gap = json.loads(json.dumps(cur))
    del cur_gap["executor_cpu_s"]["q_cpu"]
    del cur_gap["executor_cpu_s"]["q_jobs"]
    rows = listed(trend(ref, cur_gap))
    assert set(rows) == {"q_jobs", "q_run"}, rows
    assert "1.500 ->       -" in rows["q_jobs"], rows["q_jobs"]

    # artifacts without executor keys list job changes only, as before
    old_ref = {k: v for k, v in ref.items() if not k.startswith("executor")}
    old_cur = {k: v for k, v in cur.items() if not k.startswith("executor")}
    lines = trend(old_ref, old_cur)
    assert "queries whose job count changed: 1" in lines, lines
    assert listed(lines)["q_jobs"].split() == ["q_jobs", "4", "->", "3"]
    assert "driver jobs   : ref 22 (6 queries) -> cur 21 (6 queries)    " \
           "0.955" in lines, lines

    print("test_bench_trend: all assertions passed")


if __name__ == "__main__":
    main()
