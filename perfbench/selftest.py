#!/usr/bin/env python3
"""Self-test of the benchmark, in minutes: every workload end to end at the
small size (sf0.001 tables, a few chunks, a few lookups), then each again
with one expected value deliberately wrong, which must make the run report
`"correct": false`. Run from the root of a checkout:

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("batch_suite", "stream_windowed", "state_lookups")


def run(workload, *extra):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", "0", "--small", *extra],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def main():
    failures = []
    for w in WORKLOADS:
        for extra, want in (((), True), (("--break-check",), False)):
            r = run(w, *extra)
            ok = r is not None and r["correct"] is want and r["attempted"] > 0 and r["failed"] == 0
            label = "%s%s" % (w, " --break-check" if extra else "")
            print("%-36s %s  %s" % (label, "ok" if ok else "FAIL",
                                    "no result" if r is None else "correct=%s attempted=%d failed=%d"
                                    % (r["correct"], r["attempted"], r["failed"])), flush=True)
            if not ok:
                failures.append(label)
    if failures:
        sys.exit("self-test failed: " + ", ".join(failures))
    print("self-test passed")


if __name__ == "__main__":
    main()
