#!/usr/bin/env python3
"""Self-test of the benchmark. It shows that

1. the DuckDB comparison rejects a changed value, a changed type and a
   missing row;
2. a deliberately wrong result in a real run counts as a failed operation
   (the `served_scan` checksum, one `pipeline_ops` entry's output);
3. every metric of BENCHMARK.json is printed with its unit by each
   workload, untraced (end-to-end metrics) and traced (per-layer metrics).

    python3 perfbench/selftest.py [--seconds S] [--workloads a,b,...]

Exits 0 when every check holds.
"""
import argparse
import json
import os
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from oracle import compare  # noqa: E402

failures = []


def expect(ok, what):
    print(("PASS " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def run(workload, seconds, trace=0, wrong=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", str(seconds), "--trace", str(trace)]
    if wrong:
        cmd += ["--wrong", wrong]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        return None, None, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[0])["report"], json.loads(lines[-1]), ""


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--seconds", type=float, default=3)
    p.add_argument("--workloads", default="served_scan,pipeline_ops")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    want = pd.DataFrame({"k": ["a", "b"], "n": [1, 2]})
    expect(compare(want.copy(), want) is None, "compare accepts an equal result")
    expect(compare(pd.DataFrame({"k": ["a", "b"], "n": [1, 3]}), want) is not None,
           "compare rejects a changed value")
    expect(compare(pd.DataFrame({"k": ["a", "b"], "n": [1.0, 2.0]}), want) is not None,
           "compare rejects an integer returned as a double")
    expect(compare(want.iloc[:1], want) is not None, "compare rejects a missing row")

    for workload, wrong in (("served_scan", "scan"), ("pipeline_ops", "entry")):
        report, result, err = run(workload, a.seconds, wrong=wrong)
        expect(result is not None and not result["correct"] and result["failed"] >= 1
               and report["error_rate"] > 0,
               f"a wrong {wrong} result in {workload} counts as a failure"
               + (f" ({err})" if err else
                  f" (failed {result['failed']} of {result['attempted']})"))

    for workload in a.workloads.split(","):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            report, result, err = run(workload, a.seconds, trace=trace)
            if result is None:
                expect(False, f"{workload} --trace {trace} runs ({err})")
                continue
            printed = result["metrics"]
            missing = [m["name"] for m in spec[kind]
                       if printed.get(m["name"], {}).get("unit") != m["unit"]]
            expect(not missing and len(printed) == len(spec[kind]),
                   f"{workload} --trace {trace} prints every {kind} metric with its unit"
                   + (f" (missing {missing})" if missing else ""))
            expect(result["correct"] and result["attempted"] >= 1 and "error_rate" in report,
                   f"{workload} --trace {trace} verifies its outputs"
                   f" ({result['failed']} of {result['attempted']} failed)")
    print(f"{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
