#!/usr/bin/env python3
"""Compare two Bench JSON artifacts, normalized by host speed.

Usage: python3 tools/bench_trend.py BENCH_REF.json BENCH_r07.json [N]

Prints the host factor (cpu_1t ratio when both artifacts carry one),
raw and normalized totals over jointly-known queries, and the N
(default 15) queries with the worst normalized ratio — the ones worth
investigating as code regressions rather than environment drift.
When both artifacts carry per-query driver-job counts (`jobs`), it
also prints the two suite job totals and, with both sides' values,
every query whose job count changed or whose executor run or CPU time
(`executor_run_s`, `executor_cpu_s`, where both artifacts carry them)
moved by more than EXEC_MOVE of the reference and EXEC_FLOOR_S seconds.
"""
import json
import sys

EXEC_KEYS = ("executor_run_s", "executor_cpu_s")
EXEC_MOVE = 0.25     # relative change in an executor time that counts
EXEC_FLOOR_S = 0.05  # ...when it is also at least this many seconds


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    ref = json.load(open(sys.argv[1]))
    cur = json.load(open(sys.argv[2]))
    top_n = int(sys.argv[3]) if len(sys.argv) > 3 else 15
    rq, cq = ref["queries"], cur["queries"]
    joint = sorted(set(rq) & set(cq))
    if not joint:
        print("no jointly-known queries")
        return 2
    host = 1.0
    if ref.get("cpu_1t") and cur.get("cpu_1t"):
        host = max(1.0, cur["cpu_1t"] / ref["cpu_1t"])
    rt = sum(rq[q] for q in joint)
    ct = sum(cq[q] for q in joint)
    print(f"joint queries : {len(joint)}")
    print(f"ref total     : {rt:8.2f} s   (cpu_1t {ref.get('cpu_1t', '?')})")
    print(f"cur total     : {ct:8.2f} s   (cpu_1t {cur.get('cpu_1t', '?')})")
    print(f"host factor   : {host:8.3f}")
    print(f"drift raw     : {ct / rt:8.3f}")
    print(f"drift norm    : {ct / rt / host:8.3f}")
    rows = sorted(((cq[q] / rq[q] / host, q) for q in joint), reverse=True)
    print(f"\nworst {top_n} normalized ratios (cur s / ref s):")
    for ratio, q in rows[:top_n]:
        print(f"  {q:28s} {ratio:6.2f}   {cq[q]:7.3f} / {rq[q]:7.3f}")
    if "jobs" in ref and "jobs" in cur:
        print_work(ref, cur)
    return 0


def exec_moved(r, c):
    return abs(c - r) > max(EXEC_FLOOR_S, EXEC_MOVE * r)


def print_work(ref, cur):
    """Suite job totals (each over its own artifact), then both sides'
    work counters for every jointly known query whose job count changed
    or whose executor time moved."""
    rj, cj = ref["jobs"], cur["jobs"]
    rt, ct = sum(rj.values()), sum(cj.values())
    print(f"\ndriver jobs   : ref {rt} ({len(rj)} queries) -> "
          f"cur {ct} ({len(cj)} queries)   {ct / rt:6.3f}")
    keys = [k for k in EXEC_KEYS if k in ref and k in cur]
    moved = []
    for q in sorted(set(rj) & set(cj)):
        ex = [(ref[k].get(q), cur[k].get(q)) for k in keys]
        if rj[q] != cj[q] or any(
                r is not None and c is not None and exec_moved(r, c)
                for r, c in ex):
            moved.append((q, rj[q], cj[q], ex))
    what = " or executor time moved" if keys else " changed"
    print(f"queries whose job count{what}: {len(moved)}")
    if keys:
        print(f"  {'query':28s} {'jobs':>11s}   " +
              "   ".join(f"{k:>17s}" for k in keys))
    for q, r, c, ex in moved:
        cells = "   ".join(f"{fmt(a):>7s} -> {fmt(b):>7s}" for a, b in ex)
        print(f"  {q:28s} {r:4d} -> {c:4d}   {cells}".rstrip())


def fmt(v):
    return "-" if v is None else f"{v:.3f}"


if __name__ == "__main__":
    sys.exit(main())
