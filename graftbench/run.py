#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, seeded inputs.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 graftbench/run.py --smoke      # the benchmark's own test, tiny sizes

Run from the repository root. The first run builds the benchmark (an sbt
project in this directory that compiles the graft sources from
../src/main/scala) offline against $SPARK_HOME/jars; later runs reuse the
build while the sources are unchanged. Each run works in a fresh
directory under .graftbench_work/ and removes it at the end.

The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1. A traced run also writes
its spans and per-layer report to .graftbench_out/. The exit code is 0
only if every output was correct.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["cdc_pipeline", "olap_queries", "curation_loops"]
# Each workload's headline figures, printed by name above the result line.
# The result line carries the workload-neutral names of BENCHMARK.json;
# README.md maps one set onto the other.
NAMED = {
    "cdc_pipeline": ["setup_s", "failed_frac", "peak_heap_mb", "load_events_per_s",
                     "freshness_p50_ms", "freshness_p90_ms", "read_p50_ms", "table_mb"],
    "olap_queries": ["setup_s", "failed_frac", "peak_heap_mb", "query_geomean_s", "pass_s"],
    "curation_loops": ["setup_s", "failed_frac", "peak_heap_mb", "query_geomean_s", "pass_s"],
}
TIME_LIMIT_S = 175  # one run, build excluded
JVM_OPTS = [
    "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"graftbench: {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build -----------------------------------------------------------------

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile once per source fingerprint; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found under src/main/scala: run from the repository root "
             "of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required on PATH")
    stamp = os.path.join(HERE, "target", "graftbench-build.json")
    fp = fingerprint(source_files())
    if os.path.exists(stamp):
        with open(stamp) as fh:
            prev = json.load(fh)
        if prev.get("fingerprint") == fp:
            return prev["classpath"]
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        # the same Spark jars the repository's own build compiles against
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m is None:
            fail("set SPARK_HOME to the Spark installation to compile against")
        env["SPARK_HOME"] = os.path.dirname(m.group(1).rstrip("/"))
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        env["SBT_OPTS"] = opts.strip()
    log("building (first run in this checkout)")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=850)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "graftbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": classpath}, fh)
    return classpath


# ---- one run -----------------------------------------------------------------

def run_java(classpath, work, workload, seed, seconds, trace, smoke, deadline, extra=()):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
                                 "graftbench.Main", "--workload", workload, "--seed", str(seed),
                                 "--seconds", str(seconds), "--trace", str(trace),
                                 "--work", work, "--out", out, "--smoke", "1" if smoke else "0",
                                 *extra]
    errlog = os.path.join(work, "java.log")
    env = dict(os.environ, TMPDIR=tmp)
    with open(errlog, "w") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            proc.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"{workload}: time limit reached, run killed")
    with open(errlog, errors="replace") as fh:
        text = fh.read()
    for line in text.splitlines():
        if line.startswith("graftbench:"):
            print(line, file=sys.stderr)
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(text[-3000:])
        return None
    with open(out) as fh:
        return json.load(fh)


def oracle_check(res, work, trace, compare):
    """Compare each query result with its oracle SQL run in DuckDB over the
    same tables. Returns {query: problem} for every mismatch. A traced run,
    or one over another table directory (`compare`), also logs the shape
    of the inputs and results."""
    import duckdb
    import numpy as np
    import pandas as pd

    data = res["data_dir"]
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")

    def kind(dt):
        s = str(dt)
        if s.startswith("datetime"):
            return "datetime"
        for k in ("bool", "object"):
            if s == k:
                return k
        return "int" if "int" in s else "float" if "float" in s else s

    def norm(df, cols):
        df = df[cols].copy()
        for c in cols:
            if df[c].dtype == object:
                df[c] = df[c].map(lambda v: v.hex() if isinstance(v, (bytes, bytearray))
                                  else str(v))
            elif str(df[c].dtype).startswith("datetime"):
                df[c] = df[c].astype("datetime64[us]").astype(str)
            else:
                try:
                    df[c] = df[c].astype(float)
                except (ValueError, TypeError):
                    df[c] = df[c].astype(str)
        return df.sort_values(cols).reset_index(drop=True)

    if trace or compare:
        log_shape(con)
    problems = {}
    for q, sql in sorted(res["oracle"].items()):
        files = glob.glob(os.path.join(work, "results", q, "*.parquet"))
        if not files:
            problems[q] = "no result written"
            continue
        s = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if trace or compare:
            log(f"shape: {q} result rows {len(s)}")
        try:
            d = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001 - any oracle failure is a mismatch
            problems[q] = f"oracle error: {e}"
            continue
        cols = sorted(s.columns)
        if cols != sorted(d.columns):
            problems[q] = f"columns {cols} != {sorted(d.columns)}"
            continue
        if len(s) != len(d):
            problems[q] = f"rows {len(s)} != {len(d)}"
            continue
        bad = [c for c in cols if kind(s[c].dtype) != kind(d[c].dtype)]
        if bad:
            problems[q] = f"column types differ: {bad}"
            continue
        s, d = norm(s, cols), norm(d, cols)
        for c in cols:
            if s[c].dtype == float:
                same = np.array_equal(s[c].to_numpy(), d[c].to_numpy(), equal_nan=True)
            else:
                same = bool((s[c] == d[c]).all())
            if not same:
                bad = (s[c] != d[c]).to_numpy().nonzero()[0][:3].tolist()
                problems[q] = (f"values differ in column {c}, rows {bad}: "
                               f"graft {s[c].iloc[bad].tolist()} oracle {d[c].iloc[bad].tolist()}")
                break
    return problems


def log_shape(con):
    """Log the shape of the input tables, to compare generated tables with
    another table directory (`--data`)."""
    views = {r[0] for r in con.execute(
        "SELECT view_name FROM duckdb_views() WHERE NOT internal").fetchall()}
    for t in sorted(views):
        log(f"shape: {t} rows {con.execute(f'SELECT count(*) FROM {t}').fetchone()[0]}")
    if "documents" in views:
        n, p10, p50, p90, vocab, dup = con.execute("""
            WITH d AS (SELECT text, len(string_split(text, ' ')) AS nw FROM documents)
            SELECT count(*), quantile_cont(nw, 0.1), quantile_cont(nw, 0.5),
                   quantile_cont(nw, 0.9),
                   (SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) AS w
                                                   FROM documents)),
                   1 - count(DISTINCT text) / count(*)
            FROM d""").fetchone()
        log(f"shape: documents words p10/p50/p90 {p10:.0f}/{p50:.0f}/{p90:.0f}, "
            f"vocabulary {vocab}, exact duplicate share {dup:.4f}")


def select_metrics(res, names):
    m = res["metrics"]
    missing = [n for n in names if n not in m]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    return {n: {"value": m[n]["value"], "unit": m[n]["unit"]} for n in names}


def run_once(args, classpath, smoke=False, extra=()):
    start = time.time()
    work = os.path.join(ROOT, ".graftbench_work", f"run-{os.getpid()}-{int(start * 1000)}")
    os.makedirs(work)
    try:
        if getattr(args, "data", None):
            extra = [*extra, "--data", os.path.abspath(args.data)]
        res = run_java(classpath, work, args.workload, args.seed, args.seconds, args.trace,
                       smoke, start + TIME_LIMIT_S - 12, extra)
        if res is None:
            return None
        java_s = time.time() - start
        problems = {}
        if res.get("oracle"):
            problems = oracle_check(res, work, args.trace, bool(getattr(args, "data", None)))
        log(f"{args.workload}: run {java_s:.1f} s, oracle check {time.time() - start - java_s:.1f} s")
        failed = res["failed"] + sum(res["oracle_ops"].get(q, 1) for q in problems)
        failed = min(failed, res["attempted"])
        for q, p in problems.items():
            log(f"{args.workload}: {q} does not match its oracle: {p}")
        for k, v in res["checks"].items():
            if isinstance(v, str):
                log(f"{args.workload}: check {k}: {v}")
        frac = {"value": failed / max(1, res["attempted"]), "unit": "ratio"}
        res["metrics"]["failed_frac"] = res["metrics"]["check.failed_frac"] = frac
        if args.trace:
            src = os.path.join(work, "result-layers.json")
            dst_dir = os.path.join(ROOT, ".graftbench_out")
            os.makedirs(dst_dir, exist_ok=True)
            with open(src) as fh:
                layers = json.load(fh)
            layers["metrics"]["check.failed_frac"] = res["metrics"]["check.failed_frac"]
            layers["oracle_mismatches"] = problems
            dst = os.path.join(dst_dir, f"{args.workload}-seed{args.seed}-layers.json")
            with open(dst, "w") as fh:
                json.dump(layers, fh, indent=1)
            log(f"layer report: {os.path.relpath(dst, ROOT)}")
        return res, failed, problems
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", metavar="DIR",
                    help="query workloads: read this table directory instead of generating "
                         "tables, to compare the generated tables with it")
    ap.add_argument("--smoke", action="store_true",
                    help="self-test: generator check plus every workload at a tiny size")
    args = ap.parse_args()
    os.chdir(ROOT)
    if not args.smoke and args.workload is None:
        fail("--workload is required")
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json not found at the repository root")
    with open(bench_json) as fh:
        spec = json.load(fh)
    classpath = build()

    if args.smoke:
        sys.exit(smoke(classpath, spec))

    got = run_once(args, classpath)
    if got is None:
        fail(f"{args.workload}: run failed", code=1)
    res, failed, problems = got
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    correct = failed == 0 and not problems
    for n in NAMED[args.workload]:
        m = res["metrics"][n]
        print(f"{args.workload} {n} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": select_metrics(res, names)}), flush=True)
    sys.exit(0 if correct else 1)


def smoke(classpath, spec):
    """Generator self-test on three seeds, then each workload at a tiny
    size, traced and untraced. Returns the exit code."""
    ok = True
    for seed in (1, 2, 7919):
        start = time.time()
        work = os.path.join(ROOT, ".graftbench_work", f"selftest-{os.getpid()}-{seed}")
        os.makedirs(work, exist_ok=True)
        try:
            res = run_java(classpath, work, "selftest", seed, 1, 0, True, start + 170)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        passed = res is not None and res["failed"] == 0
        ok &= passed
        print(f"{'PASS' if passed else 'FAIL'} generator self-test seed={seed}"
              + ("" if passed or res is None else f" {res['checks']}"), flush=True)
    for w in WORKLOADS:
        for trace in (0, 1):
            args = argparse.Namespace(workload=w, seed=3, seconds=3, trace=trace)
            got = run_once(args, classpath, smoke=True)
            names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
            passed = (got is not None and got[1] == 0 and not got[2]
                      and all(n in got[0]["metrics"] for n in names))
            ok &= passed
            print(f"{'PASS' if passed else 'FAIL'} {w} smoke trace={trace}", flush=True)
    # watchdog: with a 1 ms limit every timed call times out; the run must
    # still end, report those calls as failed ops and give its metrics
    args = argparse.Namespace(workload="cdc_pipeline", seed=3, seconds=3, trace=0)
    got = run_once(args, classpath, smoke=True, extra=["--timeout-ms", "1"])
    passed = got is not None and 0 < got[1] <= got[0]["attempted"]
    ok &= passed
    print(f"{'PASS' if passed else 'FAIL'} cdc_pipeline watchdog: "
          + (f"{got[1]} of {got[0]['attempted']} ops failed" if got else "no result"), flush=True)
    parent = os.path.join(ROOT, ".graftbench_work")
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)
    return 0 if ok else 1


if __name__ == "__main__":
    main()
