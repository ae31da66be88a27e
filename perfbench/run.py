#!/usr/bin/env python3
"""The repo's benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload <vat_upload|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark harness from source (sbt, offline) into the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`); later runs reuse the build
while no source file changed. Inputs are generated from the seed and
kept in the build directory, so a seed's inputs are built once.

The JVM (perfbench/src) runs the workload on local[<cores>] with one
client in a closed loop and writes its timings and outputs; this script
then checks every output (DuckDB over the workbook ledgers, and the
engine's own oracle compare, tools/check_oracle.py, for query_mix), prints a report, and prints the
result as the last line of stdout. With --trace 0 the metrics are the
end-to-end ones, with --trace 1 the per-layer ones (see DESIGN.md).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen_tables  # noqa: E402

WORKLOADS = ("vat_upload", "query_mix")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
RATES = {"AED": "1.000", "USD": "3.670", "EUR": "3.980", "GBP": "4.620",
         "SAR": "0.980", "INR": "0.044"}
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec"]
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_files():
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*.scala", "src/main/**/*.java",
            "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/**/*.scala"]
    files = set()
    for p in pats:
        files.update(glob.glob(os.path.join(ROOT, p), recursive=True))
    return sorted(files)


def build(build_dir):
    """Compile engine + harness; return the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("perfbench: building engine and harness with sbt ...")
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"perfbench: build done in {time.time() - t0:.0f} s")
    return cp


# ------------------------------------------------------------------ run

def tables(build_dir, seed):
    d = os.path.join(build_dir, "inputs", f"tables-s{seed}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        gen_tables.write(d, seed)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def run_jvm(cp, args, tables_dir, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no -Xms: the old generation grows only as far as the program's
    # retained data needs, so the resident-set peak reads the program's
    # memory, not a pre-sized heap; the young generation is fixed, so
    # the peak does not depend on where GC ergonomics happened to stop
    cmd = (["java", "-Xmx3g", "-Xmn512m", "-XX:+UseParallelGC",
            "-XX:CompileThresholdScaling=0.1"] +
           [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            f"-Dgraft.memo.root={os.path.join(work, 'memo')}",
            "-cp", cp, "graft.perfbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace),
            tables_dir, work])
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: the JVM overran the run limit")
    if rc != 0:
        raise SystemExit(f"perfbench: the JVM failed (exit {rc})")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------------ checks

def expected_vat(ledger):
    """Independent summary and warning counts from a book's clean ledger:
    {(period, box): (net, vat, payable)}, {sheet: (null_box, outliers)}."""
    con = duckdb.connect()
    rates = ", ".join(f"('{c}', {r})" for c, r in RATES.items())
    con.execute(f"""
        CREATE TABLE l AS
        SELECT * FROM read_csv('{ledger}', header = true, all_varchar = true)""")
    rows = con.execute(f"""
        WITH x AS (
          SELECT CAST(year AS INT) AS y, CAST(month_num AS INT) AS m,
                 NULLIF(box, '') AS box,
                 round(CAST(net AS DECIMAL(18, 2)) * r.rate, 2) AS net,
                 round(CAST(vat AS DECIMAL(18, 2)) * r.rate, 2) AS vat
          FROM l JOIN (VALUES {rates}) AS r(cur, rate) ON r.cur = l.currency)
        SELECT y, m,
          coalesce(sum(net) FILTER (box = 'A'), 0), coalesce(sum(vat) FILTER (box = 'A'), 0),
          coalesce(sum(net) FILTER (box = 'B'), 0), coalesce(sum(vat) FILTER (box = 'B'), 0),
          coalesce(sum(net) FILTER (box = 'C'), 0), coalesce(sum(vat) FILTER (box = 'C'), 0)
        FROM x GROUP BY y, m""").fetchall()
    summary = {}
    for y, m, na, va, nb, vb, nc, vc in rows:
        p = f"{MONTHS[m - 1]} {y}"
        summary[(p, "Box A")] = (float(na), float(va), 0.0)
        summary[(p, "Box B")] = (float(nb), float(vb), 0.0)
        summary[(p, "Box C")] = (float(nc), float(vc), 0.0)
        summary[(p, "Box D")] = (0.0, float(va - vc), float(va - vc))
    warn = {sheet: (int(nb), int(no)) for sheet, nb, no in con.execute("""
        SELECT sheet, count(*) FILTER (box IS NULL OR box = ''),
               sum(CAST(rate_outlier AS INT))
        FROM l GROUP BY sheet""").fetchall()}
    return summary, warn


NULL_BOX = re.compile(r"^Sheet '(.*)': (\d+) rows with null Box")
RATE = re.compile(r"^Sheet '(.*)': (\d+) Box-A rows where")


def vat_mismatches(summary_rows, warnings, exp_summary, exp_warn):
    """Every way an op's output differs from the expected one."""
    bad = []
    got = {(p, b): (n, v, pay) for p, b, n, v, pay in summary_rows}
    if set(got) != set(exp_summary):
        bad.append(f"(period, box) keys differ: extra {sorted(set(got) - set(exp_summary))[:3]}"
                   f" missing {sorted(set(exp_summary) - set(got))[:3]}")
    for k in sorted(set(got) & set(exp_summary)):
        for g, e, what in zip(got[k], exp_summary[k], ("net", "vat", "payable")):
            if g is None or abs(float(g) - e) > 0.01 + 1e-9:
                bad.append(f"{k} {what}: got {g}, expected {e:.2f}")
    seen = {}
    for w in warnings:
        m = NULL_BOX.match(w) or RATE.match(w)
        if not m:
            bad.append(f"unexpected warning: {w}")
            continue
        slot = 0 if NULL_BOX.match(w) else 1
        cur = list(seen.get(m.group(1), (0, 0)))
        cur[slot] = int(m.group(2))
        seen[m.group(1)] = tuple(cur)
    if seen != exp_warn:
        bad.append(f"warning counts {seen} != planted {exp_warn}")
    return bad


def check_vat(work, res):
    """Failed op indices, and whether the self-test caught a planted
    wrong summary."""
    expect = {}
    ops = [json.loads(x) for x in open(os.path.join(work, "vat_outputs.jsonl"))]
    failed = {i for i, o in enumerate(res["ops"]) if o["error"]}
    for o in ops:
        name = o["input"]
        if name not in expect:
            expect[name] = expected_vat(name.replace(".xlsx", ".ledger.csv"))
        exp_summary, exp_warn = expect[name]
        bad = vat_mismatches(o["summary"], o["warnings"], exp_summary, exp_warn)
        bad += [f"failed sheet {f}" for f in o["failures"]]
        for s in ("xlsx_rows", "jdbc_rows"):
            if o["sink"][s] != len(exp_summary):
                bad.append(f"{s} = {o['sink'][s]}, expected {len(exp_summary)}")
        if bad:
            failed.add(o["op"])
            log(f"WRONG output of op {o['op']} ({name}): " + "; ".join(bad[:5]))
    # self-test: a deliberately wrong summary must be reported
    caught = True
    if ops:
        o = ops[0]
        wrong = [list(r) for r in o["summary"]]
        wrong[0][2] = float(wrong[0][2]) + 1.0
        caught = bool(vat_mismatches(wrong, o["warnings"], *expect[o["input"]]))
    return failed, caught


def oracle_passes(out_dir, tables_dir, quiet=False):
    """The queries tools/check_oracle.py passes: the engine's own rule,
    DuckDB over the same tables, exact values, same columns and dtype
    kinds. A query it does not report `ok` is wrong."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
         out_dir, tables_dir],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL)
    for line in proc.stdout.splitlines():
        if line.startswith("FAIL") and not quiet:
            log(f"check_oracle: {line}")
    return {line.split()[1] for line in proc.stdout.splitlines()
            if line.startswith("ok ")}


def check_queries(work, res):
    """Failed op indices, and whether the self-test caught a planted
    wrong query output."""
    with open(os.path.join(work, "tables_dir.txt")) as fh:
        tdir = fh.read().strip()
    out = os.path.join(work, "queries")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    ok = oracle_passes(out, tdir)
    wrong = set(oracle) - ok
    for q in sorted(wrong):
        log(f"WRONG output of {q}")
    failed = {i for i, o in enumerate(res["ops"]) if o["error"] or o["kind"] in wrong}
    # self-test: the first output with a non-null leading cell, with that
    # cell nulled, must be reported
    caught = False
    for q in sorted(oracle):
        t = pq.read_table(os.path.join(out, q))
        if t.num_rows == 0 or t.column(0)[0].as_py() is None:
            continue
        col = t.column(0).to_pylist()
        col[0] = None
        t = t.set_column(0, t.field(0), pa.array(col, t.field(0).type))
        planted = os.path.join(work, "selftest")
        os.makedirs(os.path.join(planted, q))
        pq.write_table(t, os.path.join(planted, q, "part-0.parquet"))
        with open(os.path.join(planted, "oracle_sql.json"), "w") as fh:
            json.dump({q: oracle[q]}, fh)
        caught = q not in oracle_passes(planted, tdir, quiet=True)
        break
    return failed, caught


# ------------------------------------------------------------------ metrics

def tail(xs):
    """The highest percentile with at least ten samples beyond it (the
    maximum when there are ten samples or fewer), and that percentile."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def report(args, res, failed, caught):
    ops = [o for o in res["ops"] if not o["traced"]]
    secs = [o["seconds"] for o in ops]
    n = len(ops)
    nfail = len(failed)
    p50 = statistics.median(secs)
    t, pct = tail(secs)
    ops_per_s = n / sum(secs)
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "op_p50_s": (p50, "s"),
        "ops_per_s": (ops_per_s, "1/s"),
    }
    lines = [f"workload {args.workload}, seed {args.seed}: closed loop, 1 client, "
             f"local[{res['cores']}], {n} ops in {sum(secs):.1f} s of op time",
             f"  setup_s            {res['setup_s']:.3f} s (lower): session "
             f"{res['session_s']:.2f} + median of set-up passes "
             f"{[round(x, 2) for x in res['setup_passes_s']]} + warm-up "
             f"{res['warmup_s']:.2f}",
             f"  fail_frac          {nfail / max(1, len(res['ops'])):.3f} (lower): "
             f"{nfail} of {len(res['ops'])} ops",
             f"  peak_rss_mb        {res['peak_rss_mb']:.0f} MB (lower)"]
    tail_note = f"p{pct:.0f} of {n} samples, 10 beyond it" if n > 10 else f"max of {n} samples"
    if args.workload == "vat_upload":
        lines += [f"  upload_p50_s       {p50:.3f} s (lower)",
                  f"  upload_tail_s      {t:.3f} s (lower; {tail_note})"]
    else:
        by_q = {}
        for o in ops:
            by_q.setdefault(o["kind"], []).append(o["seconds"])
        mix = sum(statistics.median(v) for v in by_q.values())
        lines += [f"  query_p50_s        {p50:.3f} s (lower; per execution)",
                  f"  query_tail_s       {t:.3f} s (lower; {tail_note})",
                  f"  query_mix_s        {mix:.3f} s (lower; sum of {len(by_q)} per-query medians)"]
    lines.append(f"  self-test: a planted wrong result was "
                 f"{'reported as a failure' if caught else 'NOT caught'}")
    print("\n".join(lines))
    return e2e


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: the engine's sources (build.sbt, src/main/scala) "
                         "are not next to perfbench/; run from a full checkout")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    before = time.time() - start
    cp = build(build_dir)
    # the run limit does not count the build
    deadline = time.time() + RUN_LIMIT_S - before
    tdir = tables(build_dir, args.seed)
    work = os.path.join(build_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(cp, args, tdir, work, deadline)
    if args.workload == "query_mix":
        failed, caught = check_queries(work, res)
    else:
        failed, caught = check_vat(work, res)
    e2e = report(args, res, failed, caught)
    if args.trace:
        metrics = dict(res["per_layer"])
        if args.workload != "query_mix":
            ops = [json.loads(x) for x in open(os.path.join(work, "vat_outputs.jsonl"))]
            metrics["api.sink.bytes"] = statistics.mean(o["sink"]["bytes"] for o in ops)
        else:
            metrics["api.sink.bytes"] = 0.0
        metrics["fail_frac"] = len(failed) / max(1, len(res["ops"]))
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
        out = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": not failed and caught,
                      "attempted": len(res["ops"]), "failed": len(failed),
                      "metrics": out}))


if __name__ == "__main__":
    main()
