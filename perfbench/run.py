#!/usr/bin/env python3
"""Run one benchmark measurement and print its result as the last line.

    python3 perfbench/run.py --workload <train|corpus|sql|stream> \
        --seed <n> --seconds <s> --trace <0|1> [--full] [--ops a,b,...]

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into perfbench/target/; later runs reuse
the build while the sources are unchanged. Each run is one fresh JVM
(perfbench.Main) that writes a result file under perfbench/work/results/;
this script then checks the dumped outputs against the DuckDB digests in
perfbench/expected.json and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
RESULTS = os.path.join(WORK, "results")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness unless the sources are unchanged;
    return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set; the build reads $SPARK_HOME/jars")
    fp = fingerprint()
    stamp = os.path.join(TARGET, "perfbench.fingerprint")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if not (os.path.exists(stamp) and os.path.exists(cp_file)
            and open(stamp).read() == fp):
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = env.get("SBT_OPTS") or " ".join(opts)
        t0 = time.time()
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "writeClasspath"],
            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
            timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            fail(f"build failed (sbt exit {r.returncode})", 3)
        with open(stamp, "w") as fh:
            fh.write(fp)
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return open(cp_file).read().strip(), fp


def launch(cp, args, trace, out, deadline):
    """One fresh JVM running perfbench.Main; returns its result file."""
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Djava.awt.headless=true",
            f"-Dlog4j2.configurationFile=file:{HERE}/log4j2.properties",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--trace", str(trace), "--data", os.path.join(HERE, "data"),
            "--work", work, "--out", out,
            "--spans", os.path.join(WORK, "spans", os.path.basename(out))]
    if args.full:
        cmd.append("--full")
    if args.ops:
        cmd += ["--ops", args.ops]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=fh, stderr=fh,
                               timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"run timed out; log in {log}", 4)
    if r.returncode != 0 or not os.path.exists(out):
        tail = open(log).read()[-3000:]
        fail(f"JVM exit {r.returncode}; log tail:\n{tail}", 5)
    with open(out) as fh:
        return json.load(fh), work


def canon(df):
    """tools/selfcheck.py's canon(): columns by name, cells stringified
    (floats to 4 places, NULL for missing), rows sorted."""
    import decimal
    import numpy as np
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, (float, np.floating)):
            if pd.isna(v):
                return "NULL"
            return f"{float(v):.4f}"
        if isinstance(v, decimal.Decimal):
            return f"{float(v):.4f}"
        return str(v)
    mapper = getattr(df, "map", None) or df.applymap
    out = mapper(cell)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def digest(df):
    """(sha256 of the canonical table, row count)."""
    c = canon(df)
    h = hashlib.sha256("\x1f".join(c.columns).encode())
    for row in c.itertuples(index=False):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return h.hexdigest(), len(c)


def check_dumps(dumps):
    """Failures of the oracle-backed outputs against expected.json."""
    import glob
    import pandas as pd
    expected = json.load(open(os.path.join(HERE, "expected.json")))
    failures = {}
    for d in dumps:
        want = expected.get(d["name"])
        if want is None:
            failures[d["name"]] = "no expected digest (run perfbench/oracle.py)"
            continue
        if want["oracle_sha"] != d["oracle_sha"]:
            failures[d["name"]] = "oracle SQL changed since expected.json " \
                                  "was computed (run perfbench/oracle.py)"
            continue
        files = glob.glob(os.path.join(d["dir"], "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files \
            else pd.DataFrame()
        sha, n = digest(got)
        if sha != want["sha"]:
            failures[d["name"]] = f"output digest differs ({n} rows, " \
                                  f"expected {want['rows']})"
    return failures


def untraced_pass_s(args, fp):
    """pass_s of every untraced run of this workload, built from the same
    sources, kept in work/results."""
    vals = []
    if not os.path.isdir(RESULTS):
        return vals
    for name in sorted(os.listdir(RESULTS)):
        try:
            r = json.load(open(os.path.join(RESULTS, name)))
        except (OSError, ValueError):
            continue
        s = r.get("stamp", {})
        if (s.get("workload"), s.get("trace"), s.get("full"), s.get("ops"),
                s.get("source_sha")) == (args.workload, False, args.full,
                                         args.ops, fp):
            vals.append(r["end_to_end"]["pass_s"])
    return vals


def measure(args, trace, cp, fp, deadline):
    os.makedirs(RESULTS, exist_ok=True)
    tag = "-full" if args.full else ""
    if args.ops:
        tag += "-" + hashlib.sha256(args.ops.encode()).hexdigest()[:8]
    out = os.path.join(RESULTS,
                       f"{args.workload}-seed{args.seed}-trace{trace}{tag}.json")
    result, work = launch(cp, args, trace, out, deadline)
    failures = dict(result["failures"])
    failures.update(check_dumps(result["dumps"]))
    result["failures"] = failures
    result["stamp"].update(source_sha=fp, git_head=git_head(),
                           seconds=args.seconds, ops=args.ops)
    with open(out, "w") as fh:
        json.dump(result, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    return result


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["train", "corpus", "sql", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--full", action="store_true",
                    help="run the workload's whole registry class")
    ap.add_argument("--ops",
                    help="comma-separated entries to run instead, in this order")
    args = ap.parse_args()
    deadline = time.time() + RUN_TIMEOUT_S
    bench = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench):
        fail(f"{bench} is missing")
    spec = json.load(open(bench))
    cp, fp = build()
    deadline = max(deadline, time.time() + RUN_TIMEOUT_S)

    metrics = {}
    if args.trace:
        base = untraced_pass_s(args, fp)
        if not base:
            base = [measure(args, 0, cp, fp, deadline)["end_to_end"]["pass_s"]]
    result = measure(args, args.trace, cp, fp, deadline)
    if args.trace:
        layers = dict(result["per_layer"])
        layers["trace.overhead_s"] = \
            result["end_to_end"]["pass_s"] - statistics.median(base)
        wanted, got = spec["per_layer"], layers
    else:
        wanted, got = spec["end_to_end"], result["end_to_end"]
    for m in wanted:
        if m["name"] not in got:
            fail(f"metric {m['name']} was not measured", 6)
        metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
    failed = len(result["failures"])
    for name, why in sorted(result["failures"].items()):
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0,
                      "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
