#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny sizes.

    python3 perfbench/smoke_test.py

Run from the root of a checkout. For every workload it checks that an
untraced run reports every end-to-end metric of BENCHMARK.json with its
unit, that a traced run reports every per-layer metric with its unit, and
that each way of corrupting the workload's output makes the run fail.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Ways each workload's output can be corrupted (see Workload.corrupt), and
# whether the corrupted output is made by the traced run only.
CORRUPTIONS = {"pages_e2e": [(1, 0), (2, 0), (3, 1), (4, 1), (5, 1), (6, 1)],
               "pip_wards": [(1, 0)], "raster_tiles": [(1, 0), (2, 0)]}


def run(workload, trace, corrupt=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny", "--corrupt", str(corrupt)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=300)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    errors = []

    def expect(cond, msg):
        print(("ok   " if cond else "FAIL ") + msg)
        if not cond:
            errors.append(msg)

    for w in CORRUPTIONS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res, err = run(w, trace)
            expect(code == 0 and res is not None and res["correct"] and res["failed"] == 0
                   and res["attempted"] >= 1, f"{w} trace={trace} runs correct")
            got = res["metrics"] if res else {}
            for m in bench[key]:
                v = got.get(m["name"])
                expect(v is not None and v.get("unit") == m["unit"]
                       and isinstance(v.get("value"), (int, float)),
                       f"{w} trace={trace} reports {m['name']} in {m['unit']}")
            if trace == 0:
                for m in bench[key]:
                    v = got.get(m["name"], {}).get("value")
                    expect(v is not None and v > 0, f"{w} {m['name']} is positive")
        for kind, trace in CORRUPTIONS[w]:
            code, res, err = run(w, trace, kind)
            expect(code != 0 and (res is None or not res["correct"]),
                   f"{w} fails its check when corrupted (kind {kind})")
            expect("CHECK FAILED" in err, f"{w} names the failed check (kind {kind})")
    print(f"{len(errors)} failure(s)")
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
