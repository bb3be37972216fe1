#!/usr/bin/env python3
"""Engine-path benchmark runner.

Usage (from the repository root):
  python3 perfbench/run.py --workload <ingest|dashboard|history> \
      --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source with sbt (only when a
source changed since the last build), runs one workload in a fresh JVM
and prints, as its last line, one JSON object:
  {"correct", "attempted", "failed", "metrics": {name: {value, unit}}}
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. Every file it writes stays under the
build directory ($CARGO_TARGET_DIR, default .bench_build).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    paths = []
    for top in ["build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src/main"]:
        p = os.path.join(root, top)
        if os.path.isfile(p):
            paths.append(p)
        for d, dirs, files in os.walk(p):
            # sbt's own output: target/ and project/project/
            dirs[:] = [x for x in dirs if x != "target" and not (
                os.path.basename(d) == "project" and x == "project")]
            paths.extend(os.path.join(d, f) for f in files)
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root, bdir):
    """Compiles program + benchmark; returns the runtime classpath."""
    stamp_f = os.path.join(bdir, "stamp")
    cp_f = os.path.join(bdir, "classpath")
    stamp = source_stamp(root)
    if os.path.isfile(cp_f) and os.path.isfile(stamp_f) \
            and open(stamp_f).read() == stamp:
        return open(cp_f).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", (
        "-Dsbt.override.build.repos=true "
        f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx4g"))
    sbt_dirs = [
        f"-Dsbt.global.base={os.path.join(bdir, 'sbt-global')}",
        f"-Dsbt.boot.directory={os.path.join(bdir, 'sbt-boot')}",
        f"-Dsbt.ivy.home={os.path.join(bdir, 'ivy')}",
        "-Dsbt.server.forcestart=false",
    ]
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", *sbt_dirs,
           "export perfbench/Runtime/fullClasspath"]
    print("perfbench: building (sbt)...", file=sys.stderr)
    try:
        r = subprocess.run(cmd, cwd=os.path.join(root, "perfbench"), env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = r.stdout.splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l
           and os.pathsep in l]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        fail("build failed")
    with open(cp_f, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_f, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def heap_size():
    """Same rule as the repository's test runs: half of MemTotal, 2-8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    bench_json = os.path.join(root, "BENCHMARK.json")
    cfg_json = os.path.join(root, "perfbench", "workloads.json")
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not "
             "here; run from the repository root", 2)
    if not (os.path.isfile(bench_json) and os.path.isfile(cfg_json)):
        fail("BENCHMARK.json or perfbench/workloads.json missing", 2)
    spec = json.load(open(bench_json))
    if args.workload not in json.load(open(cfg_json))["workloads"]:
        fail(f"unknown workload {args.workload}", 2)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not bdir.startswith(root + os.sep):
        bdir = os.path.join(root, ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    cp = build(root, bdir)

    work = os.path.join(bdir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # soft references die at every collection, so the heap measured after
    # a forced GC is the strongly reachable set, not cache leftovers.
    # The heap never shrinks below 2 GiB: after the forced collections G1
    # shrank it to about 300 MiB, and whether it grew back before or
    # during the window decided between about 25 and 75 concurrent mark
    # cycles in the window, which made the figures bimodal
    jvm = ["java", f"-Xmx{heap_size()}", "-Xms2g", "-XX:SoftRefLRUPolicyMSPerMB=0",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--config", cfg_json, "--work", work]
    log_path = os.path.join(bdir, f"last-{args.workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(jvm, cwd=work, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run timed out after {RUN_TIMEOUT_S}s (log: {log_path})")
    if args.trace and os.path.isfile(os.path.join(work, "spans.jsonl")):
        os.makedirs(os.path.join(bdir, "traces"), exist_ok=True)
        shutil.move(os.path.join(work, "spans.jsonl"), os.path.join(
            bdir, "traces", f"{args.workload}-{args.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    raw = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l)
    metrics = {}
    for m in wanted:
        v = raw["metrics"].get(m["name"])
        if v is None or not math.isfinite(v):
            fail(f"metric {m['name']} not measured")
        if not args.trace and v <= 0:
            fail(f"end-to-end metric {m['name']} is {v}, not positive")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    # figures BENCHMARK.json does not list (those of the ungated ingest)
    unlisted = {k: v for k, v in raw["metrics"].items() if k not in metrics}
    if unlisted:
        print(json.dumps({"unlisted_metrics": unlisted}))
    print(json.dumps({"correct": bool(raw["correct"]),
                      "attempted": int(raw["attempted"]),
                      "failed": int(raw["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
