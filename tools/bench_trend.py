#!/usr/bin/env python3
"""Compare two Bench JSON artifacts, normalized by host speed.

Usage: python3 tools/bench_trend.py BENCH_REF.json BENCH_r07.json [N]

Prints the host factor (cpu_1t ratio when both artifacts carry one),
raw and normalized totals over jointly-known queries, and the N
(default 15) queries with the worst normalized ratio — the ones worth
investigating as code regressions rather than environment drift.
When both artifacts carry per-query driver-job counts (`jobs`), it
also prints the two suite job totals and every query whose job count
changed (ref -> cur).
"""
import json
import sys


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
        print_jobs(ref["jobs"], cur["jobs"])
    return 0


def print_jobs(rj, cj):
    """Suite job totals (each over its own artifact) and every jointly
    known query whose driver-job count changed."""
    rt, ct = sum(rj.values()), sum(cj.values())
    print(f"\ndriver jobs   : ref {rt} ({len(rj)} queries) -> "
          f"cur {ct} ({len(cj)} queries)   {ct / rt:6.3f}")
    moved = [(q, rj[q], cj[q]) for q in sorted(set(rj) & set(cj))
             if rj[q] != cj[q]]
    print(f"queries whose job count changed: {len(moved)}")
    for q, r, c in moved:
        print(f"  {q:28s} {r:4d} -> {c:4d}")


if __name__ == "__main__":
    sys.exit(main())
