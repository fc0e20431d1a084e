#!/usr/bin/env python3
"""The repository's benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload <lake_etl|lake_lookup|query_suite>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt) and generates the base
tables (perfbench/gen_data.py); later runs reuse both while the sources
are unchanged. Each run works in a fresh directory under perfbench/.runs,
removed at the end, with its own java.io.tmpdir, lake and catalog roots;
the raw record of the run (every op, and the spans, jobs and file-system
calls of a traced run) is kept in perfbench/.records.

Every output is checked (see the workload files under perfbench/src).
Standard output ends with one JSON line: {"correct", "attempted",
"failed", "metrics"}. --trace 0 reports the end-to-end metrics; --trace 1
adds probes (a SparkListener and a counting local file system) and reports
the per-layer metrics. The exit code is 0 only when every check passed.
"""
import argparse
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
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("lake_etl", "lake_lookup", "query_suite")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JVM_OPTS = [
    "-Xmx3g", "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
            if not os.path.relpath(d, HERE).startswith(("target", "project/target",
                                                        "project/project")))
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_proc(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it, so no child (sbt's or Spark's JVM) outlives us."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return "timeout", "", ""
    return p.returncode, out, err


def build():
    """Compile with sbt once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources at src/main/scala; "
                         "run from the root of a checkout")
    stamp = os.path.join(HERE, "target", "perfbench-classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1]
    log("building with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    rc, out, err = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                            cwd=HERE, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)
    cp = [l for l in out.splitlines()
          if "perfbench" in l and "classes" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write(out[-4000:] + err[-4000:])
        raise SystemExit(f"perfbench: sbt build failed ({rc})")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cp[-1].strip() + "\n")
    return cp[-1].strip()


def data_dir():
    d = os.path.join(HERE, ".data", "base-v" + gen_data.VERSION)
    if not os.path.isdir(d):
        log("generating base tables")
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        gen_data.generate(d)
    return d


def run_jvm(cp, args, data, work, deadline):
    out = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--work", work, "--out", out]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        rc, _, _ = run_proc(cmd, max(10, deadline - time.time()), cwd=work,
                            stdout=logf, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    data = data_dir()
    deadline = time.time() + RUN_TIMEOUT_S
    work = os.path.join(HERE, ".runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rec = run_jvm(cp, args, data, work, deadline)
        failures = list(rec["failures"])
        if args.workload == "query_suite":
            failures += oracle.check(ROOT, data, rec["extra"]["results_dir"],
                                     os.path.join(HERE, "checksums.json"),
                                     max(5, deadline - time.time()))
        records = os.path.join(HERE, ".records")
        os.makedirs(records, exist_ok=True)
        shutil.copy(os.path.join(work, "record.json"), os.path.join(
            records, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = metrics.summarise(rec, failures, traced=bool(args.trace))
    for line in result.pop("report"):
        print(line)
    for f in failures[:20]:
        print(f"CHECK FAILED: {f}")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
