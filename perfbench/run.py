#!/usr/bin/env python3
"""Same-host benchmark of the graft engine.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt into .bench_build/; later runs reuse the
build while the sources are unchanged. Each workload runs in its own JVM
at local[<cpus>]. The last line of stdout is the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --workload all, every workload runs in turn and metric names are
prefixed with the workload name.

Extra options for the smoke test: --scale tiny (small inputs) and
--corrupt <kind> (damage the output in one of the workload's ways before
it is checked; the run must fail).
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["pages_e2e", "pip_wards", "raster_tiles"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Compiles with sbt unless the sources match the last build; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft; run from a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as fh:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "-J-Djava.io.tmpdir=" + tmp, "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s; see {log}")
        fh.write(r.stdout)
    if r.returncode != 0:
        fail(f"build failed (exit {r.returncode}); see {log}")
    cps = [l.strip() for l in r.stdout.splitlines() if "scala-2.13/classes" in l and "[" not in l]
    if not cps:
        fail(f"build printed no classpath; see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cps[-1]


def run_one(cp, workload, args):
    work = os.path.join(BUILD, "work", workload)
    tmp = os.path.join(BUILD, "tmp")
    logs = os.path.join(BUILD, "logs")
    traces = os.path.join(BUILD, "traces")
    for d in (tmp, logs, traces):
        os.makedirs(d, exist_ok=True)
    tag = f"{workload}-seed{args.seed}-trace{args.trace}"
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--trace-out", os.path.join(traces, tag + ".jsonl"),
            "--scale", args.scale, "--corrupt", str(args.corrupt)]
    log = os.path.join(logs, tag + ".log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        # Stop the JVM with us if we are terminated.
        signal.signal(signal.SIGTERM, lambda *_: (proc.kill(), os._exit(143)))
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} did not finish within {RUN_TIMEOUT_S} s; see {log}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    with open(log) as fh:
        for l in fh:
            if l.startswith("CHECK FAILED") or l.startswith("tracing overhead"):
                print(l.rstrip(), file=sys.stderr)
    if not lines:
        fail(f"{workload} printed no result (exit {proc.returncode}); see {log}")
    for l in lines[:-1]:
        print(l)
    result = json.loads(lines[-1])
    return proc.returncode, result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    ap.add_argument("--corrupt", type=int, default=0)
    args = ap.parse_args()
    cp = build()
    names = WORKLOADS if args.workload == "all" else [args.workload]
    code, correct, attempted, failed, metrics = 0, True, 0, 0, {}
    for name in names:
        rc, r = run_one(cp, name, args)
        code = code or rc
        correct = correct and r["correct"]
        attempted += r["attempted"]
        failed += r["failed"]
        for k, v in r["metrics"].items():
            metrics[k if len(names) == 1 else f"{name}.{k}"] = v
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(code if code else (0 if correct else 1))


if __name__ == "__main__":
    main()
