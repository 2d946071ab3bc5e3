#!/usr/bin/env python3
"""Benchmark of the pgcapturespark library: two CDC workloads and a query mix.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the library and the
drivers under perfbench/src with sbt (perfbench/build.sbt) and caches the
classpath under perfbench/.build, keyed by a hash of every source and build
file; later runs start the JVM directly. Scratch data goes to perfbench/.work.

One run prints a report line (every metric under the workload's own names,
with units and sample counts, the output checks and the host's steal and
load), then, as the last line, the result object: end-to-end metrics with
--trace 0, per-layer metrics from the traced run with --trace 1. The metric
names and units come from BENCHMARK.json. --selftest corrupts one output of
each workload and passes only if every check notices.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ["cdc_capture_backlog", "cdc_apply_live", "query_mix"]
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
QUERY_SCALE = 0.01
JVM_TIMEOUT_S = 150

# what spark-submit would add on JDK 17; the library's build.sbt passes the same
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            paths += [os.path.join(d, f) for f in fs]
    for p in sorted(paths):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:20]


def classpath():
    cached = os.path.join(BUILD, f"classpath-{fingerprint()}.txt")
    if os.path.isfile(cached):
        with open(cached) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Xmx4g -Dsbt.offline=true" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.isfile(repos) else ""))
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("sbt build failed", 1)
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classpath-*.txt")):
        os.remove(old)
    with open(cached, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def tables(seed):
    """The query_mix inputs for `seed`, generated once per checkout."""
    d = os.path.join(WORK, "tables", f"seed-{seed}-sf{QUERY_SCALE}")
    if not os.path.isfile(os.path.join(d, "_DONE")):
        sys.path.insert(0, HERE)
        import gen_tables
        for old in glob.glob(os.path.join(WORK, "tables", "seed-*")):
            shutil.rmtree(old, ignore_errors=True)
        gen_tables.generate(d, seed, QUERY_SCALE)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def canon(df):
    """Rows as strings, columns sorted by name, floats to 10 significant
    digits: the oracle compare of the repo's correctness gate."""
    df = df[sorted(df.columns)].reset_index(drop=True)
    return [ "|".join(f"{v:.10g}" if isinstance(v, float) else str(v) for v in row)
             for row in df.itertuples(index=False, name=None)]


def oracle_check(result, data):
    """Each query's answer against DuckDB's answer to its oracle SQL over
    the same tables: row count, column names and a hash of the rows."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    pins_path = os.path.join(data, "oracle.json")
    pins = json.load(open(pins_path)) if os.path.isfile(pins_path) else {}
    failed, notes = [], []
    for q, sql in result["oracle_sql"].items():
        if q in result["errors"]:
            continue
        if q not in pins:
            o = con.sql(sql).df()
            pins[q] = {"rows": len(o), "columns": sorted(o.columns),
                       "hash": hashlib.sha256("\n".join(canon(o)).encode()).hexdigest()}
        s = con.sql(f"SELECT * FROM read_parquet('{result['answers']}/{q}/*.parquet')").df()
        got = {"rows": len(s), "columns": sorted(s.columns),
               "hash": hashlib.sha256("\n".join(canon(s)).encode()).hexdigest()}
        if got != pins[q]:
            failed.append(q)
            notes.append(f"{q}: rows {got['rows']} vs oracle {pins[q]['rows']}, "
                         f"hash {'equal' if got['hash'] == pins[q]['hash'] else 'differs'}")
    with open(pins_path, "w") as f:
        json.dump(pins, f)
    notes.append(f"{len(result['oracle_sql']) - len(failed) - len(result['errors'])} of "
                 f"{len(result['oracle_sql'])} answers equal the DuckDB oracle")
    return failed, notes


def run_jvm(cp, args, work, extra):
    out = os.path.join(work, "result.json")
    log = os.path.join(WORK, "logs", f"{args.workload}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for d in ("tmp", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # a fixed-size heap: one that shrinks after every System.gc and grows
    # again made the query mix's times swing by a fifth from run to run
    cmd = [java, *ADD_OPENS, "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
           "-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
           "--out", out, "--corrupt", "1" if args.corrupt else "0", *extra]
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, start_new_session=True)

        def stop(signum, _frame):
            # the JVM runs in a session of its own: take it down with us
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"{args.workload} stopped by signal {signum}", 1)

        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"{args.workload} did not finish in {JVM_TIMEOUT_S} s (log: {log})", 1)
        finally:
            for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
                signal.signal(sig, signal.SIG_DFL)
    if proc.returncode != 0 or not os.path.isfile(out):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        die(f"{args.workload} failed with exit code {proc.returncode} (log: {log})", 1)
    with open(out) as f:
        return json.load(f)


def run(args, spec):
    if args.workload not in WORKLOADS:
        die(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
    cp = classpath()
    extra = []
    if args.workload == "query_mix":
        data = tables(args.seed)
        extra = ["--data", data]
    if args.changes:
        extra += ["--changes", str(args.changes)]
    work = os.path.join(WORK, f"run-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        r = run_jvm(cp, args, work, extra)
        failed, checks = r["failed"], list(r["checks"])
        if args.workload == "query_mix":
            wrong, notes = oracle_check(r, data)
            failed += len(wrong)
            checks += notes
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted = max(1, int(r["attempted"]))
    report = dict(r["report"])
    report["failed_frac"] = {"value": failed / attempted, "unit": "fraction", "n": attempted}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "report": report, "checks": checks, "host": r["host"],
                      **{k: r[k] for k in ("feed", "setup_s", "passes", "pass_s", "per_query_s",
                                           "phase_s", "lag_ms_p50_by_third") if k in r}}))
    if args.trace:
        names, source = spec["per_layer"], r["layers"]
    else:
        names, source = spec["end_to_end"], r["e2e"]
    missing = [m["name"] for m in names if m["name"] not in source]
    if missing:
        die(f"{args.workload} did not report {', '.join(missing)}", 1)
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in names}
    return {"correct": failed == 0, "attempted": attempted, "failed": int(failed),
            "metrics": metrics}


def selftest(args, spec):
    """Corrupt one output per workload; every check must notice."""
    ok = True
    for w in WORKLOADS:
        a = argparse.Namespace(workload=w, seed=args.seed, seconds=3, trace=0, corrupt=True,
                               changes=60000 if w == "cdc_capture_backlog" else None)
        res = run(a, spec)
        caught = not res["correct"] and res["failed"] > 0
        ok &= caught
        print(f"selftest {w}: failed_frac={res['failed'] / res['attempted']:.6f} "
              f"({'caught' if caught else 'MISSED'})", file=sys.stderr)
    return ok


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--changes", type=int, help=argparse.SUPPRESS)
    p.add_argument("--selftest", action="store_true")
    args = p.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(spec_path)):
        die(f"run from a checkout of the repository: {ROOT} lacks build.sbt, "
            "src/main/scala/graft or BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.selftest:
        sys.exit(0 if selftest(args, spec) else 1)
    if not args.workload:
        die("--workload is required")
    print(json.dumps(run(args, spec)))


if __name__ == "__main__":
    main()
