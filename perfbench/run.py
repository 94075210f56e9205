#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the runner and the
program's sources (sbt, offline) and generates the fixture tables under
perfbench/.work/; later runs reuse both while the sources are unchanged.
Each run gets its own temp dir (java.io.tmpdir, the Spark warehouse and
local dirs, the Derby home all point there), removed when the run ends.

--trace 0 prints every end-to-end metric of BENCHMARK.json; --trace 1 runs
traced and prints every per-layer metric. The line before the last holds
the run record: wall-clock pass and operation latencies with their sample
count, the CPU share the host stole, cpus, scale factor, seed, envelope,
the source hash (and git sha when the checkout is a git repository),
errors, and the per-layer metrics a workload does not exercise.
Unit tests: python3 -m unittest discover perfbench/tests, and (cd perfbench && sbt test).

--record writes the digests this run observed to expected/<workload>.json;
use it only on code whose answers are oracle-green.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
import metrics  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of every file that goes into the build."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(src_hash):
    """Compile with sbt unless the classpath for these sources exists."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == src_hash:
        return open(cp_file).read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(src_hash)
    return lines[-1].strip()


def java(cp, tmp, args, timeout, log):
    cmd = (["java", "-Xmx4g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}", "-Duser.timezone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Runner"] + args)
    with open(log, "a") as f:
        p = subprocess.Popen(cmd, cwd=tmp, stdin=subprocess.DEVNULL, stdout=f, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"runner timed out after {timeout} s; see {log}")
    if p.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"runner exited with {p.returncode}; see {log}")


def cpu_ticks():
    """Per-state CPU ticks of the machine (user, nice, system, idle, iowait,
    irq, softirq, steal), or None where /proc/stat is not there."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        fail("no program sources beside the benchmark (src/main/scala/graft)")

    src_hash = source_hash()
    cp = build(src_hash)
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}"
    tmp = os.path.join(WORK, "tmp", f"{run_id}-{os.getpid()}")
    out = os.path.join(WORK, "out", run_id)
    data = os.path.join(WORK, "data")
    expected = os.path.join(HERE, "expected", f"{a.workload}.json")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(out)
    log = os.path.join(out, "runner.log")
    try:
        # fixture generation runs in its own JVM, once per checkout, so it
        # never shows in a run's set-up time or memory
        java(cp, tmp, ["gen-data", "--workload", a.workload, "--data", data, "--tmp", tmp], 600, log)
        ticks0 = cpu_ticks()
        java(cp, tmp, ["run", "--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
                       "--tmp", tmp, "--out", out, "--expected", expected], JVM_TIMEOUT_S, log)
        ticks1 = cpu_ticks()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    with open(os.path.join(out, "record.json")) as f:
        record = json.load(f)
    if a.record:
        shutil.copyfile(os.path.join(out, "digests.json"), expected)

    attempted = sum(len(p["ops"]) for p in record["passes"])
    failed = record["failed"]
    if a.trace:
        with open(os.path.join(out, "spans.jsonl")) as f:
            spans = [json.loads(l) for l in f]
        values = metrics.per_layer(record, spans)
        wanted, info = bench["per_layer"], {"spans": len(spans)}
    else:
        values, info = metrics.end_to_end(record)
        wanted = bench["end_to_end"]
    absent = [m["name"] for m in wanted if m["name"] not in values]
    # CPU time the hypervisor gave to other guests while the run measured:
    # the main source of run-to-run spread on a shared host
    if ticks0 and ticks1:
        d = [b - a for a, b in zip(ticks0, ticks1)]
        info["cpu_steal_frac"] = round(d[7] / max(1, sum(d)), 4)
    summary = dict(info, workload=a.workload, seed=a.seed, trace=a.trace, cpus=record["cpus"],
                   sf=record["sf"], envelope=record["envelope"], source_hash=src_hash,
                   git_sha=git_sha(), spark=record["spark_version"],
                   pass_walls=[round(p["wall_s"], 4) for p in record["passes"]],
                   absent={n: "this workload does not call that layer" for n in absent},
                   errors=record["errors"], out=os.path.relpath(out, ROOT))
    print(json.dumps(summary))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
