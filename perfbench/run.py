#!/usr/bin/env python3
"""graft benchmark: one command, one closed-loop client, one Spark action in
flight at a time on local[nproc], every input generated from --seed.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --all [--seed n] [--seconds s]   every workload
  python3 perfbench/run.py --selftest                       checks reject bad output

Builds the engine and the harness from source (perfbench/build.py), runs one
JVM (graft.perfbench.Main), checks its outputs (the query oracles in DuckDB
here), prints a report line per metric group and, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["spine_inline", "spine_remote_c14n", "kg_resume", "query_text"]

# The metric lists BENCHMARK.json declares, in its order.
END_TO_END = ["setup_s", "pass_s"]
PER_LAYER = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
    "spark.task_cpu_s", "spark.gc_s", "spark.task_p50_s", "spark.task_max_s",
    "spark.shuffle_write_bytes", "spark.shuffle_records",
    "spark.shuffle_read_bytes", "spark.idle_core_s", "trace.overhead_ratio",
]

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
HEAP = "2g"
JVM_TIMEOUT_S = 165


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_jvm(cp, workload, seed, seconds, trace, work, scale=1.0, corrupt=""):
    """One benchmark process; returns its result.json as a dict."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # SoftRefLRUPolicyMSPerMB=0: a full GC clears softly reachable caches,
    # so the live heap read after it does not depend on how much of the
    # heap happened to be free
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:SoftRefLRUPolicyMSPerMB=0",
            "-Xss16m", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--scale", str(scale)]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError(f"{workload} JVM timed out after {JVM_TIMEOUT_S}s")
    path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(path):
        raise RuntimeError(f"{workload} JVM exited with {rc}")
    with open(path) as fh:
        return json.load(fh)


def compare(con, got_sql, want_sql):
    """tools/selfcheck.py's comparison: same column names, same row count,
    and an empty EXCEPT ALL in both directions (exact multiset equality)."""
    got = con.execute(got_sql).fetch_arrow_table()
    want = con.execute(want_sql).fetch_arrow_table()
    g_cols, w_cols = sorted(got.column_names), sorted(want.column_names)
    if g_cols != w_cols:
        return f"schema {g_cols} vs oracle {w_cols}"
    if got.num_rows != want.num_rows:
        return f"rows {got.num_rows} vs oracle {want.num_rows}"
    con.register("t_got", got)
    con.register("t_want", want)
    cols = ", ".join(f'"{c}"' for c in g_cols)
    d1 = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM t_got EXCEPT ALL "
                     f"SELECT {cols} FROM t_want)").fetchone()[0]
    d2 = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM t_want EXCEPT ALL "
                     f"SELECT {cols} FROM t_got)").fetchone()[0]
    con.unregister("t_got")
    con.unregister("t_want")
    return None if d1 == 0 and d2 == 0 else f"content: {d1} extra rows, {d2} missing rows"


def oracle_checks(work, only=None):
    """Each query result of the warm-up pass against its DuckDB oracle."""
    import duckdb
    con = duckdb.connect()
    sf = os.path.join(work, "sf")
    for f in os.listdir(sf):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf, f)}/*.parquet')")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    out = {}
    for q, sql in sorted(oracles.items()):
        if only and q not in only:
            continue
        d = os.path.join(work, "query_out", q)
        if not os.path.isdir(d):
            out[q] = (False, "no Spark output")
            continue
        try:
            err = compare(con, f"SELECT * FROM read_parquet('{d}/*.parquet')", sql)
        except Exception as e:  # noqa: BLE001 — a failing oracle fails the check
            err = f"error: {str(e)[:300]}"
        out[q] = (err is None, err or "equals oracle")
    return out


def evaluate(res, work, workload):
    """Adds run.py's own checks; returns (correct, checks)."""
    checks = {k: (v["ok"], v["detail"]) for k, v in res["checks"].items()}
    if workload == "query_text":
        for q, (ok, d) in oracle_checks(work).items():
            checks[f"{q}.oracle"] = (ok, d)
    correct = all(ok for ok, _ in checks.values()) and res["failed"] == 0
    return correct, checks


def report(workload, res, checks, correct):
    """Human-readable lines: every metric by name and unit, then the rest."""
    print(f"== {workload} (seed {res['descriptors']['seed']}, "
          f"{res['descriptors']['cores']} cores, trace {int(res['descriptors']['trace'])})")
    for group in ("metrics", "layers"):
        for k, v in res[group].items():
            print(f"  {k:44s} {v['value']:>16.6g} {v['unit']}")
    desc = {k: v for k, v in res["descriptors"].items()
            if k not in ("workload", "seed", "cores", "trace")}
    print("  descriptors " + json.dumps(desc, sort_keys=True))
    bad = {k: d for k, (ok, d) in checks.items() if not ok}
    print(f"  checks: {sum(ok for ok, _ in checks.values())}/{len(checks)} pass"
          + (f"; FAILED {json.dumps(bad)}" if bad else ""))
    print(f"  correct: {str(correct).lower()}", flush=True)


def one(args, cp):
    work = os.path.join(ROOT, ".bench_build", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        res = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace, work)
        correct, checks = evaluate(res, work, args.workload)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(args.workload, res, checks, correct)
    names = PER_LAYER if args.trace else END_TO_END
    src = res["layers"] if args.trace else res["metrics"]
    missing = [n for n in names if n not in src]
    if missing:
        raise RuntimeError(f"{args.workload} did not report {missing}")
    print(json.dumps({
        "correct": correct, "attempted": int(res["attempted"]), "failed": int(res["failed"]),
        "metrics": {n: {"value": src[n]["value"], "unit": src[n]["unit"]} for n in names},
    }), flush=True)


def run_all(args, cp):
    """Every workload, untraced, one after another; a summary line last."""
    summary = {}
    for w in WORKLOADS:
        work = os.path.join(ROOT, ".bench_build", "work", f"{w}-{args.seed}-{os.getpid()}")
        try:
            res = run_jvm(cp, w, args.seed, args.seconds, False, work)
            correct, checks = evaluate(res, work, w)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        report(w, res, checks, correct)
        summary[w] = {"correct": correct, "metrics": res["metrics"]}
    print(json.dumps(summary), flush=True)


def selftest(cp):
    """Small inputs: every output check must pass on the real output and
    reject a corrupted one; traced and untraced runs agree on the output."""
    results = []

    def expect(name, cond):
        results.append((name, bool(cond)))
        print(f"  {'ok  ' if cond else 'FAIL'} {name}", flush=True)

    base = os.path.join(ROOT, ".bench_build", "work", f"selftest-{os.getpid()}")
    scale = {"spine_inline": 0.05, "spine_remote_c14n": 0.1, "kg_resume": 0.1, "query_text": 0.2}
    try:
        for w in WORKLOADS:
            fps = {}
            for trace in (False, True):
                work = f"{base}/{w}-{int(trace)}"
                res = run_jvm(cp, w, 7, 1, trace, work, scale[w])
                correct, checks = evaluate(res, work, w)
                expect(f"{w} trace={int(trace)}: all checks pass", correct)
                fps[trace] = res["descriptors"].get("output")
                if w == "query_text" and not trace:
                    # alter one value of one row of one result: its oracle must fail
                    import duckdb
                    q = "q_pmi_top"
                    d = os.path.join(work, "query_out", q)
                    con = duckdb.connect()
                    t = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')").fetch_arrow_table()
                    col = next(c for c in t.column_names if str(t.schema.field(c).type) in ("int64", "int32"))
                    con.register("t", t)
                    con.execute(f"COPY (SELECT * REPLACE (CASE WHEN row_number() OVER () = 1 "
                                f"THEN \"{col}\" + 1 ELSE \"{col}\" END AS \"{col}\") FROM t) "
                                f"TO '{d}/altered.parquet' (FORMAT parquet)")
                    for f in os.listdir(d):
                        if f.endswith(".parquet") and f != "altered.parquet":
                            os.remove(os.path.join(d, f))
                    ok, detail = oracle_checks(work, only={q})[q]
                    expect(f"query_text: one altered row of {q} is rejected ({detail})", not ok)
                shutil.rmtree(work, ignore_errors=True)
            if w != "query_text":
                expect(f"{w}: traced and untraced outputs identical ({fps[False]})",
                       fps[False] is not None and fps[False] == fps[True])
        for w, corrupt in (("spine_inline", "drop_triple"), ("spine_remote_c14n", "drop_triple"),
                           ("kg_resume", "drop_triple"), ("kg_resume", "drop_quarantine")):
            work = f"{base}/{w}-{corrupt}"
            res = run_jvm(cp, w, 7, 1, False, work, scale[w], corrupt)
            correct, checks = evaluate(res, work, w)
            failed = sorted(k for k, (ok, _) in checks.items() if not ok)
            expect(f"{w} with {corrupt}: rejected by {failed[:2]}", not correct)
            shutil.rmtree(work, ignore_errors=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    n_ok = sum(ok for _, ok in results)
    print(json.dumps({"selftest": "pass" if n_ok == len(results) else "fail",
                      "passed": n_ok, "total": len(results)}), flush=True)
    return n_ok == len(results)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    t0 = time.time()
    try:
        cp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return 2
    log(f"build ready in {time.time() - t0:.1f}s")
    try:
        if args.selftest:
            return 0 if selftest(cp) else 1
        if args.all:
            run_all(args, cp)
            return 0
        if not args.workload:
            ap.error("--workload, --all or --selftest is required")
        one(args, cp)
        return 0
    except RuntimeError as e:
        log(f"run failed: {e}")
        return 3


if __name__ == "__main__":
    sys.exit(main())
