#!/usr/bin/env python3
"""graft's served-path benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/METRICS.md for what each measures and why):
  served_scan   1 client, full-projection reads of lineitem over HTTP into
                the noop sink
  pipeline_ops  1 client, passes over three driver-bound operator entries

It builds graft and the harness from source, generates the tables from the
seed, runs the workload in one JVM on local[4], checks every result against
DuckDB, and prints a report line and then, as the last line, the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1, its per-layer metrics.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
from oracle import Oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
TIME_LIMIT_S = 170
# table scale factor and parquet row-group size per workload; None keeps
# one row group per table, as in the repository's test tables
DATA = {
    "served_scan": (0.05, 122_880),
    "pipeline_ops": (0.01, None),
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def heap():
    """Half of MemTotal in whole GiB, clamped to 2..8 (the tier-1 rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unavailable"
    except (OSError, subprocess.SubprocessError):
        return "unavailable"


def run_jvm(classpath, work, args, deadline):
    data, out, tmp, local = (os.path.join(work, d) for d in ("data", "out", "tmp", "local"))
    for d in (out, tmp, local):
        os.makedirs(d, exist_ok=True)
    # a fixed young generation and a collector that grows the old one
    # only when a full collection cannot make room keep the resident set
    # following the live data, not heap-sizing heuristics (G1 commits
    # and touches most of the heap within seconds, by timing). The old
    # generation starts at 1 GiB, above the largest burst an entry
    # promotes at once: from a smaller start the collector chose, by
    # timing, between growing it and collecting it in full, and the
    # resident set of pipeline_ops jumped by 500 MB between runs
    cmd = (["java", f"-Xmx{heap()}", "-Xms2g", "-Xmn1g", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy", "-XX:MinHeapFreeRatio=10",
            "-XX:MaxHeapFreeRatio=30"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", classpath, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--out", out, "--launched-ms", str(int(time.time() * 1000))])
    if args.wrong:
        cmd += ["--wrong", args.wrong]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    env.pop("SPARK_GRAFT_ONLY", None)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("the benchmark JVM did not finish in time")
    result_path = os.path.join(out, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"the benchmark JVM failed (exit {proc.returncode}):\n{tail}")
    with open(result_path) as f:
        result = json.load(f)
    spans = os.path.join(out, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(build.BUILD, f"last_trace_{args.workload}.jsonl"))
    return result


def end_to_end(res, workload, setup_s):
    ops = res["ops"]
    lat = [o["latency_ms"] for o in ops]
    window = res["window_s"]
    if workload == "pipeline_ops":
        passes = {}
        for o in ops:
            passes.setdefault(o["qid"].rsplit("-", 1)[1], []).append(o["latency_ms"] / 1e3)
        batch = statistics.median(sum(p) for p in passes.values())
        rows_per_s = res["pass_input_rows"] / batch
    else:
        # one scan is the whole batch of a served_scan client
        batch = statistics.median(lat) / 1e3
        rows_per_s = res["records_read"] / window
    return {
        "setup_s": setup_s,
        "latency_p50_ms": statistics.median(lat),
        "scan_rows_per_s": rows_per_s,
        "batch_s": batch,
        "peak_rss_mb": res["peak_rss_mb"],
    }


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(DATA))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--wrong", help=argparse.SUPPRESS)  # self-test: corrupt one result
    args = p.parse_args(argv)
    started = time.time()
    deadline = started + TIME_LIMIT_S

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        classpath, source_fp = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    # the first run in a checkout also builds; its time limit starts now
    deadline = max(deadline, time.time() + TIME_LIMIT_S - 10)

    work = os.path.join(build.BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        sf, row_group = DATA[args.workload]
        t0 = time.time()
        data_fp = datagen.generate(os.path.join(work, "data"), sf, args.seed, row_group)
        datagen_s = time.time() - t0
        t_jvm = time.time()
        res = run_jvm(classpath, work, args, deadline)
        t_check = time.time()
        oracle = Oracle(os.path.join(work, "data"))
        failed_checks, failed_ops = {}, set()
        for c in res["checks"]:
            reason, bad_ops = oracle.check(c)
            if reason:
                failed_checks[c["id"]] = reason
                failed_ops.update(bad_ops)
        ops = res["ops"]
        # a wrong scan checksum fails every scan; other checks fail the
        # operations of their own query
        every = "scan:checksum" in failed_checks
        failed = [o for o in ops if every or not o["ok"] or o["qid"] in failed_ops
                  or o["instance"] in failed_checks]
        # operations that failed during the warm-up count too
        n_failed = len(failed) + res["setup"]["warmup_failures"]
        attempted = len(ops) + res["setup"]["warmup_failures"]
        s = res["setup"]
        setup_s = datagen_s + s["session_ready_s"] + s["endpoint_setup_s"] + s["first_answer_s"]

        if args.trace:
            values = dict(res["layers"])
            kind = "per_layer"
        else:
            values = end_to_end(res, args.workload, setup_s)
            kind = "end_to_end"
        metrics = {}
        for m in spec[kind]:
            if m["name"] not in values:
                raise RuntimeError(f"metric {m['name']} was not measured")
            metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}

        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "env": dict(res["env"], git_sha=git_sha(), source_fingerprint=source_fp,
                        data_fingerprint=data_fp, data_sf=sf, seconds=args.seconds),
            "samples": len(ops), "window_s": res["window_s"],
            "latencies_ms": [round(o["latency_ms"], 1) for o in ops],
            "memory_mb": res["memory_mb"],
            "error_rate": n_failed / attempted,
            "server_errors": res["server_errors"],
            "failed_checks": failed_checks,
            "errors": sorted({o["error"] for o in ops if o["error"]})[:5],
            "setup_parts_s": dict(s, datagen_s=datagen_s),
            "phases_s": {"build": t0 - started, "jvm": t_check - t_jvm,
                         "checks": time.time() - t_check},
            "checks": len(res["checks"]),
        }
        print(json.dumps({"report": report}))
        print(json.dumps({"correct": not n_failed and not failed_checks,
                          "attempted": attempted, "failed": n_failed,
                          "metrics": metrics}))
        return 0
    except Exception as e:
        print(f"perfbench: {type(e).__name__}: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
