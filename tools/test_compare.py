#!/usr/bin/env python3
"""Unit coverage for tools/compare.py's debt-first sweep ordering
(r14 verdict Next #2: the ordering must credit greens from all three
artifact kinds — driver CORRECTNESS_rN, builder CORRECTNESS_LOCAL_rN,
judge CORRECTNESS_JUDGE_rN — with driver greens outranking same-round
LOCAL/JUDGE greens). Plain-assert script, no test framework:

    python3 tools/test_compare.py
"""
import json
import subprocess
import sys
import tempfile
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))
import compare  # noqa: E402


def green(*names):
    return {n: {"rows_match": True, "schema_match": True,
                "hash_match": True, "spark_rows": 1, "oracle_rows": 1,
                "err": None} for n in names}


def red(*names):
    return {n: {"rows_match": True, "schema_match": True,
                "hash_match": False, "spark_rows": 1, "oracle_rows": 1,
                "err": None} for n in names}


def sweep(argv, verify):
    """Run compare.main() with `verify(outdir)` standing in for the
    sbt Verify leg; returns (exit code, {query: record})."""
    real_run = compare.subprocess.run

    def fake_run(cmd, *a, **kw):
        if cmd[0] != "sbt":
            return real_run(cmd, *a, **kw)
        rc = verify(argv[1])
        return subprocess.CompletedProcess(cmd, rc, "", "verify died")

    old_argv = sys.argv
    compare.subprocess.run = fake_run
    sys.argv = ["compare.py"] + argv
    try:
        compare.main()
        code = 0
    except SystemExit as e:
        code = e.code
    finally:
        compare.subprocess.run = real_run
        sys.argv = old_argv
    json_path = Path(argv[argv.index("--json") + 1])
    return code, json.loads(json_path.read_text())


def stale_dumps_never_grade():
    """A dump left by an earlier build must not grade as PASS when this
    run's Verify fails."""
    oracle = {"q_stale": "SELECT 1 AS x", "q_fresh": "SELECT 2 AS x"}

    def dump(outdir, name, x):
        d = Path(outdir) / name
        d.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table({"x": pa.array([x], pa.int32())}),
                       d / "part-00000.parquet")
        (d / "_SUCCESS").write_text("")

    def write_oracle(outdir):
        (Path(outdir) / "oracle_sql.json").write_text(json.dumps(oracle))

    with tempfile.TemporaryDirectory() as td:
        sf, out = Path(td) / "sf", Path(td) / "out"
        sf.mkdir()
        out.mkdir()
        res = str(Path(td) / "r.json")
        argv = [str(sf), str(out), "--inproc", "--json", res]
        # an earlier, complete build's output
        write_oracle(out)
        dump(out, "q_stale", 1)
        dump(out, "q_fresh", 2)
        keep = out / "notes.txt"
        keep.write_text("not a dump")

        # Verify writes q_fresh and oracle_sql.json, then dies
        def partial(outdir):
            dump(outdir, "q_fresh", 2)
            write_oracle(outdir)
            return 1
        code, recs = sweep(argv, partial)
        assert code == 1, code
        assert recs["q_fresh"]["hash_match"], recs
        assert recs["q_stale"]["err"] == "no spark output", recs
        assert keep.exists()

        # Verify dies before writing oracle_sql.json: nothing grades
        write_oracle(out)
        dump(out, "q_stale", 1)
        Path(res).unlink()
        code, recs = sweep(argv, lambda outdir: 1)
        assert code == 1 and recs == {}, (code, recs)

        # --skip-run grades what is there
        write_oracle(out)
        dump(out, "q_stale", 1)
        dump(out, "q_fresh", 2)
        Path(res).unlink()
        code, recs = sweep(argv + ["--skip-run"], lambda outdir: 1 / 0)
        assert code == 0, (code, recs)
        assert all(r["hash_match"] for r in recs.values()), recs


def main():
    with tempfile.TemporaryDirectory() as td:
        repo = Path(td)
        # r13 driver artifact: q_a and q_b green, q_c red.
        (repo / "CORRECTNESS_r13.json").write_text(
            json.dumps({**green("q_a", "q_b"), **red("q_c")}))
        # r14 driver artifact: the empty {} failure mode on record.
        (repo / "CORRECTNESS_r14.json").write_text("{}")
        # r14 LOCAL twin: q_b, q_c, q_d green.
        (repo / "CORRECTNESS_LOCAL_r14.json").write_text(
            json.dumps(green("q_b", "q_c", "q_d")))
        # r14 JUDGE replica: q_c green (redundant with LOCAL for q_c).
        (repo / "CORRECTNESS_JUDGE_r14.json").write_text(
            json.dumps(green("q_c")))
        # A non-artifact file that must be ignored by the name filter.
        (repo / "CORRECTNESS_NOTES_r14.json").write_text(
            json.dumps(green("q_z")))

        g = compare.latest_green_round(repo)
        # Driver r13 green credits 13.0; LOCAL/JUDGE r14 credit 13.5.
        assert g["q_a"] == 13.0, g
        assert g["q_b"] == 13.5, g   # LOCAL r14 outranks driver r13
        assert g["q_c"] == 13.5, g   # r13 red row credits nothing
        assert g["q_d"] == 13.5, g   # LOCAL-only green still credits
        assert "q_z" not in g, g     # unknown artifact name ignored

        # Debt order: never-green first, then stalest credit, then
        # alphabetical within a band.
        order = compare.sweep_order(
            ["q_d", "q_c", "q_b", "q_a", "q_new2", "q_new1"], repo)
        assert order == ["q_new1", "q_new2", "q_a", "q_b", "q_c", "q_d"], order

        # REVERIFY forces a query back into the never-green band.
        old = compare.REVERIFY
        compare.REVERIFY = {"q_a"}
        try:
            order = compare.sweep_order(["q_a", "q_b", "q_new1"], repo)
            assert order == ["q_a", "q_new1", "q_b"], order
        finally:
            compare.REVERIFY = old

        # Driver green outranks a same-round LOCAL green.
        (repo / "CORRECTNESS_r14.json").write_text(json.dumps(green("q_b")))
        g = compare.latest_green_round(repo)
        assert g["q_b"] == 14.0 and g["q_c"] == 13.5, g

    # looks_oom: word-bounded OOM phrases only — a deterministic error
    # that merely mentions malloc-family symbols must NOT trigger the
    # 30 s backoff path (ADVICE r14).
    assert compare.looks_oom("DuckDB Out of Memory Error: ...")
    assert compare.looks_oom("std::bad_alloc")
    assert compare.looks_oom("cannot allocate memory")
    assert not compare.looks_oom(
        "Binder Error: function 'malloc_trim' does not exist")
    # word-bounded: a marker inside a longer word must not match
    assert not compare.looks_oom("Preallocation failed: invalid argument")
    assert compare.looks_oom("allocation failed: out of budget")
    assert not compare.looks_oom("column amount not found")
    assert not compare.looks_oom(None)
    # concatenated JVM/duckdb forms lowercase to ONE word — the
    # leading-boundary-only marker must catch them (ADVICE r15 #2)
    assert compare.looks_oom("java.lang.OutOfMemoryError: heap space")
    assert compare.looks_oom("OutOfMemoryException in oracle leg")
    assert compare.looks_oom("plain outofmemory text")
    # ...but not inside a longer word on the LEFT
    assert not compare.looks_oom("fakeoutofmemory is not a marker")

    # preflight_wait: waits only while below the floor, spends the
    # shared budget, stops when memory recovers or budget runs out;
    # a None reading (no /proc/meminfo) disables the gate entirely.
    readings = iter([1000, 1200, 9999])
    slept = []
    budget = {"s": 100}
    waited = compare.preflight_wait(
        budget, floor_mb=2600, step_s=15,
        mem_fn=lambda: next(readings), sleep_fn=slept.append)
    assert waited == 30 and slept == [15, 15], (waited, slept)
    assert budget["s"] == 70, budget
    budget = {"s": 20}
    waited = compare.preflight_wait(
        budget, floor_mb=2600, step_s=15,
        mem_fn=lambda: 100, sleep_fn=lambda s: None)
    assert waited == 20 and budget["s"] == 0, (waited, budget)
    waited = compare.preflight_wait(
        {"s": 100}, floor_mb=2600, step_s=15,
        mem_fn=lambda: None, sleep_fn=lambda s: (_ for _ in ()).throw(
            AssertionError("must not sleep when meminfo is unreadable")))
    assert waited == 0, waited

    # --json / --only / --child take their value in either spelling;
    # the spaced value is not mistaken for a positional directory.
    for argv in (["sf", "out", "--json", "r.json", "--only", "q_a,q_b"],
                 ["sf", "--json=r.json", "out", "--only=q_a,q_b"],
                 ["--json", "r.json", "sf", "--only", "q_a,q_b", "out"]):
        pos, vals, flags = compare.parse_args(argv)
        assert pos == ["sf", "out"] and not flags, (argv, pos, flags)
        assert vals == {"--json": "r.json", "--only": "q_a,q_b"}, (argv, vals)
    pos, vals, flags = compare.parse_args(
        ["sf", "out", "--child", "q_x", "--lax", "--skip-run"])
    assert vals == {"--child": "q_x"}, vals
    assert flags == {"--lax", "--skip-run"}, flags
    assert compare.parse_args([]) == ([], {}, set())
    try:
        compare.parse_args(["sf", "--json"])
        raise AssertionError("a trailing --json without a value must fail")
    except SystemExit:
        pass

    stale_dumps_never_grade()

    print("test_compare: all assertions passed")


if __name__ == "__main__":
    main()
