#!/usr/bin/env python3
"""graft's benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft and the harness
from source with sbt (offline) and generates the inputs; later runs reuse
both while the sources are unchanged. Everything the run writes stays under
`perfbench/.work`. The last line of standard output is
`{"correct", "attempted", "failed", "metrics"}`: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("interactive", "ingest")
SCALES = ("sf0.01", "sf0.1")
DATA_SEED = 42
DEADLINE_S = 160
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness; returns the run classpath."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src")]
    stamp = tree_hash(sources)
    cp_file = os.path.join(WORK, "classpath")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # offline, and nothing written outside the checkout: no sbt server
    # socket, no JVM perf-data file, temporary files under .work
    opts = [os.environ.get("SBT_OPTS", "-Xmx2g"), "-Dsbt.offline=true",
            "-Dsbt.server.autostart=false", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts[0] and os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def inputs():
    """Generated tables per scale, rebuilt when the generator changes."""
    data = os.path.join(WORK, "data")
    stamp = tree_hash([os.path.join(HERE, "gen.py")])
    for sf in SCALES:
        d = os.path.join(data, sf)
        done = os.path.join(d, ".stamp")
        if os.path.exists(done) and open(done).read() == stamp:
            continue
        shutil.rmtree(d, ignore_errors=True)
        gen.write(d, float(sf[2:]), DATA_SEED)
        with open(done, "w") as f:
            f.write(stamp)
    return data


def run_jvm(classpath, args, deadline):
    out = os.path.join(WORK, f"trace-{args.workload}-{args.seed}-{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: with C2, on 4 cores, the JIT compiler threads were busy
    # for about twice the measured pass's wall time, and the pass slowed
    # by 40 % when other processes took CPU (by 14 % with C1)
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1", "-Duser.timezone=UTC",
        "-Dspark.callstack.depth=64",
        f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", os.path.join(WORK, "data"), "--work", os.path.join(WORK, args.workload),
        "--expected", os.path.join(HERE, "expected.json"), "--out", out]
    # the session is configured here, not by the caller's environment
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "SPARK_LOCAL_DIRS", "GRAFT_"))}
    log = os.path.join(WORK, f"jvm-{args.workload}.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {DEADLINE_S} s; see {log}")
    if code != 0 or not os.path.exists(out):
        fail(f"harness exited with {code}; see {log}")
    with open(out) as f:
        return json.load(f)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("graft's sources (build.sbt, src/main/scala/graft) are not beside perfbench/")
    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    inputs()
    # the first run of a checkout builds; only the run after it is bounded
    raw = run_jvm(classpath, args, time.time() + DEADLINE_S)

    if args.trace:
        values = metrics.per_layer(raw)
        for fn, (n, ms) in sorted(metrics.functions(raw).items(), key=lambda x: -x[1][1])[:12]:
            print(f"# jobs by call site: {fn}: {n} jobs, {ms} ms")
    else:
        values, notes = metrics.end_to_end(raw)
        print("# " + json.dumps(notes))
    # the ingest store is checked against an independent replay
    extra = oracle.ingest_checks(
        raw["observed"], os.path.join(WORK, "data", "sf0.1", "documents.parquet")
    ) if args.workload == "ingest" else []
    for c in extra:
        if not c["ok"]:
            print(f"perfbench: check {c['name']} failed: {c['detail']}", file=sys.stderr)
    failed = raw["failed"] + sum(1 for c in extra if not c["ok"])
    bad = [c["name"] for c in raw["checks"] + extra if not c["ok"]]
    if bad:
        print("# failed checks: " + ", ".join(bad))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": raw["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))


if __name__ == "__main__":
    main()
