#!/usr/bin/env python3
"""Local pre-check of the driver's correctness gate.

Runs graft.Verify (unless --skip-run), then executes each oracle SQL in
DuckDB over the same parquet tables and compares against the Spark
parquet dumps. Flags both hard mismatches and floats that are close but
not bit-identical (the driver hash-compares, so we aim for bit-equal).

Strict dtype checking is ON by default: Arrow schema types of the Spark
dump and the DuckDB oracle result are compared after a width-normalizing
map (int8..int64 -> int, timestamps unit-normalized) that still keeps
DuckDB HUGEINT (decimal128) distinct from BIGINT — the exact class the
driver's type-sensitive hash rejects while str()-comparison passes.
Pass --lax to skip the dtype gate.

Usage: python3 tools/compare.py [sfdir] [outdir] [--skip-run] [--only q1,q2]
       [--lax] [--json PATH] [--inproc]

--json PATH writes a machine-readable per-query record in the driver's
exact CORRECTNESS schema ({name: {rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err}}), REWRITTEN AFTER EVERY QUERY so a crash
mid-suite leaves a structured partial artifact instead of nothing (the
r11/r12 driver sweeps both died without writing a single row — this is
the local insurance against that failure mode). The file also holds a
reserved "__meta__" record naming what was graded: git HEAD (and
whether tracked files differed from it), the sf dir, the Verify exit
code (null under --skip-run), sweep start and end times (UTC, ISO
8601; end stays null while the sweep runs or if it dies) and the
number of graded queries.

== Sweep order: verification-debt first (r13 verdict #1) ==
The sweep used to iterate sorted(oracle) — alphabetically — so when the
driver box's recurring memory exhaustion killed a mid-sweep band, it
killed the SAME band every round: q_ann_residual_rerank..q_soft_dedup
went 13 rounds without a driver green despite being LOCAL-green at
every SF. The sweep now orders queries by (never-driver-green first,
stalest-green round next, alphabetical last), computed from the
CORRECTNESS_r*.json history committed in the repo, so ANY partial sweep
yields maximal NEW evidence. Since r15 the scan also credits the
builder's CORRECTNESS_LOCAL_r*.json twins and the judge's
CORRECTNESS_JUDGE_r*.json replicas (at a half-round discount, so a
driver green outranks a same-round LOCAL/JUDGE green) — the r14 driver
artifact was an empty {}, and without this the r15 sweep would re-treat
the whole surface as debt-ordered by r13-era history despite a 190/190
judge-verified round (r14 verdict, Next #2). Queries whose
implementation changed after their last green are listed in REVERIFY
and treated as never-green (r13 precedent: q_budget_select).
Unit-covered by tools/test_compare.py (plain python3, no framework).

== Oracle isolation: one subprocess per query (r13 verdict #2) ==
Three of the last four driver rounds lost 60-77 oracle legs to
host-level memory exhaustion — DuckDB failing KB-scale allocations
while co-tenants held the box. A memory_limit alone cannot save a
process the OS will not give 2 KB to, and a single long-lived process
keeps its allocator's high-water pages forever. So each query's whole
oracle leg (read Spark dump, run oracle SQL, compare) now runs in a
FRESH short-lived child process: memory returns to the OS between
queries, one query's death cannot take the sweep down, and an
allocation failure is retried with ESCALATING backoff (30 s -> 2 min
-> 5 min, budget shared across the sweep) behind a /proc/meminfo
pre-flight gate that refuses to launch a child into a box without
headroom (r15 verdict Next #3 — the single 30 s retry demonstrably
lost 36 queries to a window that stayed exhausted). memory_limit drops
6 GB -> 2 GB: the failures on record are headroom exhaustion, not
limit overruns, and 2 GB is still ~13x the sf0.01 working set.
--inproc restores the old single-process sweep (fast local iteration
when the box is idle).
"""
import json
import math
import re
import shutil
import subprocess
import sys
import time
from datetime import datetime, timezone
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

# Derive the repo root from the script location (tools/ -> repo); a
# hardcoded path silently found no history from other checkouts and
# degraded the debt ordering to alphabetical with no warning.
REPO = Path(__file__).resolve().parent.parent
# Queries whose current implementation postdates their latest green
# (stale attestation): sweep them as if never verified. The rule
# (r13 precedent, r15 ADVICE consistency note): ANY implementation
# change after the query's newest attestation — including cache/
# materialization-only and "result-identical by construction" changes
# — puts it here until re-attested; it leaves the set once an artifact
# newer than the change records it green. r15's entries (the three
# recall queries' dropDuplicates guard, q_substring_dedup's cache
# removal) were all re-attested by CORRECTNESS_JUDGE_r15.json, which
# the judge ran against final r15 HEAD — so the set is empty; r16's
# new queries are never-green and order first without needing it.
# r16: nearDupPairs' band projection + first-shared-band rule were
# factored into shared helpers (signBandProjection/firstSharedKeyIdx,
# result-identical) for the streaming audio twin, and audioNearDup's
# centering moved into Multimodal.centeredEnvelopes — re-attest the
# two queries riding those code paths.
REVERIFY = {"q_emb_neardup", "q_audio_neardup"}
CHILD_TIMEOUT_S = 900
# Phrases actually observed in OOM failures, matched WORD-BOUNDED
# (regex \b on both sides): the old broad substring 'malloc' caught
# deterministic errors that merely mentioned malloc-family text and
# triggered a pointless 30 s backoff + full child re-run on genuine
# failures — and a plain substring test would still match e.g.
# 'Preallocation failed' against 'allocation failed'.
OOM_MARKERS = ("out of memory", "bad_alloc",
               "cannot allocate", "memoryerror",
               "allocation failed", "failed to allocate")
# 'outofmemory' gets a LEADING boundary only: the concatenated forms
# (OutOfMemoryError / OutOfMemoryException) lowercase to one word, so
# a trailing \b would never match them (r15 ADVICE #2).
OOM_RE = re.compile(
    "|".join([r"\b" + re.escape(m) + r"\b" for m in OOM_MARKERS]
             + [r"\boutofmemory"]))
# == Pre-flight + escalating backoff (r15 verdict Next #3) ==
# The driver box's failure mode is HOST-level memory exhaustion that
# outlasts a single 30 s backoff (36 err rows in r15 with every retry
# burned into the same exhausted window). Two defenses: (a) before
# each child launch, wait — bounded and logged — while MemAvailable
# is below the child's footprint, instead of launching into certain
# death; (b) on an OOM-classified failure, retry with ESCALATING
# backoff (30 s -> 2 min -> 5 min), the budget SHARED across the
# sweep so a box that stays exhausted all sweep cannot multiply the
# wall clock unboundedly.
CHILD_FOOTPRINT_MB = 2600      # 2 GB duckdb limit + interpreter slack
PREFLIGHT_STEP_S = 15
PREFLIGHT_BUDGET_S = 600       # total pre-flight waiting per sweep
RETRY_BACKOFFS_S = (30, 120, 300)
RETRY_BUDGET_S = 1800          # total backoff sleeping per sweep
VERIFY_TIMEOUT_S = 7200        # bound on the sbt Verify leg


def mem_available_mb():
    """MemAvailable from /proc/meminfo in MB, or None when the file
    is absent/unreadable (non-Linux dev box) — None disables the
    gate rather than blocking the sweep."""
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    except Exception:
        return None
    return None


def preflight_wait(budget, floor_mb=CHILD_FOOTPRINT_MB,
                   step_s=PREFLIGHT_STEP_S, mem_fn=mem_available_mb,
                   sleep_fn=time.sleep):
    """Wait (bounded by budget["s"], logged) while available memory
    sits below the child's footprint. Returns seconds waited. The
    budget dict is shared across the sweep — once exhausted, children
    launch regardless (the retry path still catches the fallout)."""
    waited = 0
    avail = mem_fn()
    while (avail is not None and avail < floor_mb and budget["s"] > 0):
        step = min(step_s, budget["s"])
        print(f"PREFLIGHT wait {step}s: MemAvailable {avail} MB "
              f"< {floor_mb} MB (budget {budget['s']}s)")
        sleep_fn(step)
        budget["s"] -= step
        waited += step
        avail = mem_fn()
    return waited


def norm_type(t) -> str:
    """Collapse representation-level width differences the driver
    tolerates, keep semantic type family differences it rejects."""
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        # the driver compares through pandas, where date32 and
        # timestamp both land as datetime64 — driver-green queries
        # legitimately mix them (e.g. date_trunc vs DuckDB DATE)
        return "timestamp"
    if pa.types.is_integer(t):
        return "int"          # int8..int64, signed/unsigned widths collapse
    if pa.types.is_floating(t):
        return "float"        # float32/float64 collapse
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"  # HUGEINT shows up here
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return f"list<{norm_type(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{f.name}:{norm_type(f.type)}" for f in t)
        return f"struct<{inner}>"
    if pa.types.is_null(t):
        return "null"
    return str(t)


def dtype_issues(spark_schema, oracle_schema):
    s = {f.name: norm_type(f.type) for f in spark_schema}
    o = {f.name: norm_type(f.type) for f in oracle_schema}
    out = []
    for c in sorted(set(s) & set(o)):
        # an all-NULL oracle column (e.g. CAST(NULL AS ...) edge) is fine
        if s[c] != o[c] and "null" not in (s[c], o[c]):
            out.append(f"DTYPE MISMATCH col={c}: spark={s[c]} oracle={o[c]}")
    return out

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    key = df.apply(lambda r: tuple(str(v) for v in r), axis=1)
    return df.iloc[key.argsort(kind="stable")].reset_index(drop=True)


def compare(name, spark_df, oracle_df):
    issues = []
    a, b = norm(spark_df), norm(oracle_df)
    if list(a.columns) != list(b.columns):
        return [f"columns differ: spark={list(a.columns)} oracle={list(b.columns)}"]
    if len(a) != len(b):
        return [f"row count differs: spark={len(a)} oracle={len(b)}"]
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av = av.astype(float); bv = bv.astype(float)
            bit = np.array([x == y or (math.isnan(x) and math.isnan(y))
                            for x, y in zip(av, bv)])
            if not bit.all():
                close = np.isclose(av, bv, rtol=1e-9, equal_nan=True)
                n_off = int((~bit).sum())
                i = int(np.argmax(~bit))
                tag = "CLOSE-BUT-NOT-BITEQUAL" if close.all() else "VALUE MISMATCH"
                issues.append(
                    f"{tag} col={c} n={n_off} e.g. row{i}: "
                    f"spark={av[i]!r} oracle={bv[i]!r}")
        else:
            eq = (pd.Series(av).astype(str) == pd.Series(bv).astype(str))
            if not eq.all():
                i = int(np.argmax(~eq.to_numpy()))
                issues.append(
                    f"VALUE MISMATCH col={c} n={int((~eq).sum())} "
                    f"e.g. row{i}: spark={av[i]!r} oracle={bv[i]!r}")
    return issues


def classify(issues):
    """Map compare()/dtype issue strings onto the driver's three match
    booleans. The driver records them independently; mirror that:
    column-set or dtype problems -> schema_match false, row-count ->
    rows_match false, any value/NaN problem -> hash_match false. A
    structural failure (columns differ) also fails the hash, since the
    driver's hash is over the full frame."""
    rows = schema = hsh = True
    for it in issues:
        if it.startswith("columns differ") or "DTYPE MISMATCH" in it:
            schema = False
            hsh = False
        elif it.startswith("row count differs"):
            rows = False
            hsh = False
        else:
            hsh = False
    return rows, schema, hsh


def fresh_con(sfdir):
    """Bounded, spill-enabled DuckDB connection over the SF's tables.

    threads=8: the container transiently refuses thread creation
    (EAGAIN — jemalloc "background thread creation failed (11)"),
    which DuckDB surfaces as bogus tiny-block "Out of Memory" errors
    or a std::system_error abort when it spawns its default 32 workers
    per fresh connection; 8 is plenty for oracle-sized data and cuts
    the flake's surface 4x. memory_limit=2GB + temp_directory: bounded
    it spills instead of dying, and the low bound leaves host headroom
    — the r11/r13 sweeps died on OS-level allocation failure, which no
    in-process limit survives (hence the subprocess isolation)."""
    spill = Path("/tmp/duckdb_spill")
    spill.mkdir(exist_ok=True)
    c = duckdb.connect()
    c.execute("SET threads TO 8")
    c.execute("SET memory_limit='2GB'")
    c.execute(f"SET temp_directory='{spill}'")
    # compare() sorts both frames itself, so result order is free —
    # dropping insertion-order preservation lets DuckDB stream rather
    # than buffer large results (a real memory lever under the 2GB cap)
    c.execute("SET preserve_insertion_order=false")
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if Path(p).exists():
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return c


def run_one(state, sfdir, outdir, name, sql, strict):
    """One query's full oracle leg on `state["con"]` (a dict holder so
    an internal reconnect is visible to the CALLER's next query — a
    plain parameter would leave the caller probing a closed
    connection). Returns the driver-schema record dict plus an
    'issues' list. Transient allocator/thread flakes can hit any
    DuckDB call; each call gets ONE retry on a fresh connection
    (every flake observed to date passes on the immediate retry). If
    both attempts fail, the FIRST exception is reported (the retry's
    is usually the less informative cascade)."""

    def with_retry(run):
        try:
            return run()
        except Exception as first:
            time.sleep(2)
            try:
                state["con"].close()
            except Exception:
                pass
            state["con"] = fresh_con(sfdir)
            try:
                return run()
            except Exception:
                raise first

    def rec(rows_m, schema_m, hash_m, sr, orr, err, issues=()):
        return {"name": name, "rows_match": rows_m, "schema_match": schema_m,
                "hash_match": hash_m, "spark_rows": sr, "oracle_rows": orr,
                "err": err, "issues": list(issues)}

    spark_glob = f"{outdir}/{name}/*.parquet"
    if not list(Path(f"{outdir}/{name}").glob("*.parquet")):
        # deterministic: the Verify dump is absent — no retry
        return rec(False, False, False, 0, 0, "no spark output")
    try:
        sarrow = with_retry(
            lambda: state["con"].sql(f"SELECT * FROM '{spark_glob}'").arrow())
    except Exception as e:
        return rec(False, False, False, 0, 0, f"spark read: {e}")
    try:
        oarrow = with_retry(lambda: state["con"].sql(sql).arrow())
    except Exception as e:
        return rec(False, False, False, sarrow.num_rows, 0,
                   f"oracle SQL: {e}")
    try:
        sdf = sarrow.to_pandas()
        odf = oarrow.to_pandas()
    except Exception as e:
        return rec(False, False, False, sarrow.num_rows, oarrow.num_rows,
                   f"arrow->pandas: {e}")
    issues = compare(name, sdf, odf)
    if strict:
        issues += dtype_issues(sarrow.schema, oarrow.schema)
    rows_m, schema_m, hash_m = classify(issues)
    return rec(rows_m, schema_m, hash_m, len(sdf), len(odf), None, issues)


# (pattern, credit discount) per artifact kind. A driver green at round
# N credits N.0; a LOCAL/JUDGE green at the same round credits N-0.5 —
# still green, but any query with a DRIVER attestation of the same
# vintage carries less debt. Before r15 only the driver pattern was
# scanned, so the r14 driver artifact being an empty {} left the sweep
# blind to that round's 190/190 LOCAL+JUDGE evidence and re-ordered by
# r13-era history (r14 verdict, What's wrong #1).
ARTIFACT_KINDS = (
    (r"CORRECTNESS_r(\d+)", 0.0),
    (r"CORRECTNESS_LOCAL_r(\d+)", 0.5),
    (r"CORRECTNESS_JUDGE_r(\d+)", 0.5),
)


def latest_green_round(repo=None):
    """Scan the committed correctness history (driver + LOCAL twin +
    JUDGE replica artifacts) for full greens (rows+schema+hash).
    Returns {query: latest green credit} where credit = round minus the
    artifact-kind discount, so a driver green outranks a same-round
    LOCAL/JUDGE green. Warns when no history is found at all — that
    means the debt ordering is degrading to alphabetical (likely a
    wrong repo root)."""
    repo = REPO if repo is None else Path(repo)
    greens = {}
    found_any = False
    for p in repo.glob("CORRECTNESS_*r*.json"):
        credit = None
        for pat, discount in ARTIFACT_KINDS:
            m = re.fullmatch(pat, p.stem)
            if m:
                credit = int(m.group(1)) - discount
                break
        if credit is None:
            continue
        try:
            d = json.loads(p.read_text())
        except Exception:
            continue
        if not isinstance(d, dict):
            continue
        found_any = True
        for q, r in d.items():
            if (isinstance(r, dict) and r.get("rows_match")
                    and r.get("schema_match") and r.get("hash_match")):
                greens[q] = max(greens.get(q, 0), credit)
    if not found_any:
        print(f"WARNING: no CORRECTNESS_*r*.json history under {repo}; "
              "sweep order degrades to alphabetical", file=sys.stderr)
    return greens


def sweep_order(names, repo=None):
    """Verification-debt-first ordering (see module scaladoc): queries
    with no green ever (or in REVERIFY) come first, then stale greens
    oldest-credit first (LOCAL/JUDGE greens count at a half-round
    discount vs driver greens), alphabetical within each band."""
    greens = latest_green_round(repo)
    def key(q):
        g = 0 if q in REVERIFY else greens.get(q, 0)
        return (g, q)
    return sorted(names, key=key)


def child_main(sfdir, outdir, name, strict):
    oracle = json.loads(Path(f"{outdir}/oracle_sql.json").read_text())
    r = run_one({"con": fresh_con(sfdir)}, sfdir, outdir, name,
                oracle[name], strict)
    print("\nGRAFT_RESULT " + json.dumps(r))


def run_child(sfdir, outdir, name, strict):
    """Run one query's oracle leg in a fresh subprocess; parse the
    GRAFT_RESULT line. Returns (record, raw_tail_for_diagnostics)."""
    cmd = [sys.executable, str(Path(__file__).resolve()), sfdir, outdir,
           f"--child={name}"] + ([] if strict else ["--lax"])
    try:
        p = subprocess.run(cmd, capture_output=True, text=True,
                           timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return None, f"child timeout after {CHILD_TIMEOUT_S}s"
    for line in reversed(p.stdout.splitlines()):
        if line.startswith("GRAFT_RESULT "):
            try:
                return json.loads(line[len("GRAFT_RESULT "):]), None
            except Exception:
                break
    tail = "\n".join((p.stdout + p.stderr).splitlines()[-5:])
    return None, f"child died rc={p.returncode}: {tail}"


def looks_oom(err):
    return OOM_RE.search((err or "").lower()) is not None


VALUE_OPTS = ("--only", "--json", "--child")


def parse_args(argv):
    """(positionals, {option: value}, {flag}); each of VALUE_OPTS takes
    its value either as `--opt=V` or as the next argument (`--opt V`)."""
    pos, vals, flags = [], {}, set()
    i = 0
    while i < len(argv):
        a = argv[i]
        name, eq, v = a.partition("=")
        if name in VALUE_OPTS:
            if not eq:
                if i + 1 >= len(argv):
                    sys.exit(f"{name} needs a value")
                i += 1
                v = argv[i]
            vals[name] = v
        elif a.startswith("--"):
            flags.add(a)
        else:
            pos.append(a)
        i += 1
    return pos, vals, flags


def clear_dumps(outdir):
    """Delete what an earlier Verify left in `outdir`: oracle_sql.json
    and every per-query dump directory (one holding a Spark `_SUCCESS`
    marker or parquet part files). Other files are left alone."""
    out = Path(outdir)
    if not out.is_dir():
        return
    (out / "oracle_sql.json").unlink(missing_ok=True)
    for d in out.iterdir():
        if d.is_dir() and ((d / "_SUCCESS").exists()
                           or any(d.glob("*.parquet"))):
            shutil.rmtree(d)


META_KEY = "__meta__"


def utc_now():
    return datetime.now(timezone.utc).isoformat(timespec="seconds")


def git_state(repo=None):
    """(HEAD sha, tracked files differ from HEAD) of the checkout, or
    (None, None) outside a git work tree."""
    repo = REPO if repo is None else Path(repo)
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=str(repo),
                              capture_output=True, text=True, check=True)
        dirty = subprocess.run(
            ["git", "status", "--porcelain", "--untracked-files=no"],
            cwd=str(repo), capture_output=True, text=True, check=True)
    except (OSError, subprocess.CalledProcessError):
        return None, None
    return head.stdout.strip(), bool(dirty.stdout.strip())


def main():
    args, vals, flags = parse_args(sys.argv[1:])
    sfdir = args[0] if len(args) > 0 else "/root/testdata/sf0.001"
    outdir = args[1] if len(args) > 1 else "/tmp/graft_verify"
    only = set(vals["--only"].split(",")) if "--only" in vals else None
    json_path = Path(vals["--json"]) if "--json" in vals else None
    child = vals.get("--child")
    strict = "--lax" not in flags
    inproc = "--inproc" in flags

    if child is not None:
        child_main(sfdir, outdir, child, strict)
        return

    # Incrementally-flushed driver-schema record: written after EVERY
    # query so any crash leaves partial structured evidence. The
    # __meta__ record names the checkout and the run it grades.
    head, dirty = git_state()
    meta = {"git_head": head, "git_dirty": dirty, "sf": sfdir,
            "verify_rc": None, "sweep_start": utc_now(), "sweep_end": None,
            "queries": 0}
    records = {META_KEY: meta}

    def flush():
        if json_path is None:
            return
        meta["queries"] = len(records) - 1
        tmp = json_path.with_suffix(".tmp")
        tmp.write_text(json.dumps(records, indent=1, sort_keys=True))
        tmp.replace(json_path)

    def record(name, rows_match, schema_match, hash_match,
               spark_rows, oracle_rows, err):
        records[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "err": err,
        }
        flush()

    # The artifact must exist from the first moment (r16: the driver's
    # round artifact came back a literal {} — a sweep that dies before
    # its first record must still leave a parseable file naming the
    # run, and every recorded row after that strictly improves on it).
    flush()

    if "--skip-run" not in flags:
        # Bounded + survivable Verify leg (r16 verdict #1): the old
        # path exited the whole sweep on a non-zero sbt rc, so one
        # Spark-side death (or an OOM-killed JVM) zeroed the round's
        # correctness artifact. Now: bound the run, and on failure fall
        # through to the compare if this run wrote oracle_sql.json —
        # queries whose dump is missing record "no spark output" err
        # rows instead of the artifact not existing at all. Output of
        # an earlier build is cleared first, so it can never grade.
        clear_dumps(outdir)
        try:
            r = subprocess.run(
                ["sbt", "-batch", f'runMain graft.Verify {sfdir} {outdir}'],
                cwd=str(REPO), capture_output=True, text=True,
                timeout=VERIFY_TIMEOUT_S)
            tail = "\n".join((r.stdout + r.stderr).splitlines()[-30:])
            verify_rc = r.returncode
            out_all = r.stdout + r.stderr
        except subprocess.TimeoutExpired:
            tail = f"graft.Verify timed out after {VERIFY_TIMEOUT_S}s"
            verify_rc = -1
            out_all = ""
        meta["verify_rc"] = verify_rc
        flush()
        if verify_rc != 0:
            print(tail)
            if not Path(f"{outdir}/oracle_sql.json").exists():
                meta["sweep_end"] = utc_now()
                flush()
                sys.exit(1)
            print("WARNING: graft.Verify failed; comparing against the "
                  "dumps that exist (missing dumps become err rows)",
                  file=sys.stderr)
        if "[verify]" in out_all:
            print("verify-time failures:")
            for line in out_all.splitlines():
                if "[verify]" in line:
                    print(" ", line)

    oracle = json.loads(Path(f"{outdir}/oracle_sql.json").read_text())
    names = [n for n in sweep_order(oracle) if not only or n in only]

    # --inproc: the pre-r14 single-process sweep, for fast local
    # iteration on an idle box (no per-query interpreter startup).
    # Fresh connection every 25 queries: one long-lived connection
    # accumulates allocator state across ~150 oracle queries and has
    # twice produced a spurious mid-suite "Out of Memory Error".
    state = {"con": fresh_con(sfdir)} if inproc else None
    counters = {"since_reset": 0, "pass": 0, "fail": 0}
    preflight_budget = {"s": PREFLIGHT_BUDGET_S}
    retry_budget = {"s": RETRY_BUDGET_S}

    def run_query(name):
        if inproc:
            counters["since_reset"] += 1
            if counters["since_reset"] > 25:
                state["con"].close()
                state["con"] = fresh_con(sfdir)
                counters["since_reset"] = 0
            r = run_one(state, sfdir, outdir, name, oracle[name], strict)
        else:
            # don't launch into a box that cannot host the child
            preflight_wait(preflight_budget)
            r, err = run_child(sfdir, outdir, name, strict)
            first = None
            for backoff in RETRY_BACKOFFS_S:
                if r is not None and not looks_oom(r.get("err")):
                    break
                if first is None:
                    first = err if r is None else r["err"]
                if retry_budget["s"] < backoff:
                    print(f"RETRY budget exhausted for {name} "
                          f"({retry_budget['s']}s left)")
                    break
                # allocation failure or child death: host memory was
                # likely exhausted by a co-tenant — escalate the
                # backoff and wait for MemAvailable before relaunch
                print(f"RETRY {name} after {backoff}s ({str(first)[:120]})")
                retry_budget["s"] -= backoff
                time.sleep(backoff)
                preflight_wait(preflight_budget)
                r2, _ = run_child(sfdir, outdir, name, strict)
                if r2 is not None:
                    r = r2
            if r is None:
                r = {"name": name, "rows_match": False,
                     "schema_match": False, "hash_match": False,
                     "spark_rows": 0, "oracle_rows": 0,
                     "err": str(first), "issues": []}
        record(name, r["rows_match"], r["schema_match"], r["hash_match"],
               r["spark_rows"], r["oracle_rows"], r["err"])
        issues = r.get("issues", [])
        ok = r["rows_match"] and r["schema_match"] and r["hash_match"]
        if ok:
            counters["pass"] += 1
            print(f"PASS {name} ({r['spark_rows']} rows)")
        else:
            counters["fail"] += 1
            if r["err"]:
                print(f"FAIL {name}: {r['err']}")
            else:
                print(f"FAIL {name} ({r['spark_rows']} rows)")
            for it in issues[:6]:
                print("   ", it)

    for name in names:
        # A sweep must never die on one query (r16 verdict #1: the
        # driver artifact came back {}): any exception this loop body
        # can throw — including ones outside the per-query child —
        # records an err row and moves on.
        try:
            run_query(name)
        except Exception as e:  # noqa: BLE001 — err row, keep sweeping
            counters["fail"] += 1
            record(name, False, False, False, 0, 0,
                   f"sweep-level: {type(e).__name__}: {e}")
            print(f"FAIL {name}: sweep-level {type(e).__name__}: {e}")
            if inproc:
                # the shared connection may be the casualty — replace it
                try:
                    state["con"].close()
                except Exception:
                    pass
                state["con"] = fresh_con(sfdir)
                counters["since_reset"] = 0
    meta["sweep_end"] = utc_now()
    flush()
    print(f"\n{counters['pass']} pass / {counters['fail']} fail")
    sys.exit(1 if counters["fail"] else 0)


if __name__ == "__main__":
    main()
