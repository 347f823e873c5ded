#!/usr/bin/env python3
"""graft repo benchmark: one run of one workload.

    python3 perfbench/run.py --workload <dashboard_read|batch_dedup|ingest_fresh>
                             --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. It builds graft and the harness
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/inputs.py), runs the harness JVM (one local[nproc] Spark process
with the fixed flag set in perfbench/settings.py), checks every output
(perfbench/checks.py) and prints one JSON object as the last line of stdout:
the end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. Exits non-zero, printing no result, when it cannot
build or run; a failed run keeps its work dir (inputs, jvm.log) under
bench_work/ for inspection.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402
import settings  # noqa: E402

WORKLOADS = ("dashboard_read", "batch_dedup", "ingest_fresh")
RUN_LIMIT_S = 170  # the JVM's budget, counted after any build


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def run_jvm(cmd, env, work, log_path):
    """Run the harness JVM to completion; it is killed, and waited for, if
    it overruns RUN_LIMIT_S or this process is told to stop."""
    def stop(signum, _frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            return proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness JVM timed out; log: {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    # metric names and units come from BENCHMARK.json
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json in {root}: {e}")
    try:
        cp, archive = build.build(root)
    except build.BuildError as e:
        fail(f"build failed: {e}")
    except subprocess.TimeoutExpired:
        fail("build timed out")

    # Stores live under bench_work/ and the harness names them by their
    # qualified file: URI, so a checkout under a '.'- or '_'-prefixed
    # directory still reads them (README, "Known defect").
    base = os.path.join(root, "bench_work")
    work = os.path.join(base, f"{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "inputs")
    plan = inputs.generate(a.workload, a.seed, inp,
                           ingest_ops=settings.ingest_ops_needed(a.seconds, a.trace))
    cfg = settings.config(a.workload, a.seconds, a.trace, inp, work)
    if a.trace:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        cfg["spans"] = os.path.join(base, "traces", f"{a.workload}-s{a.seed}.spans.json")
        # a traced run also probes the layers the other workload exercises,
        # on that workload's inputs, so no per-layer metric is left unmeasured
        other = os.path.join(work, "other_inputs")
        if a.workload == "batch_dedup":
            inputs.generate("dashboard_read", a.seed, other,
                            ingest_ops=settings.ingest_ops_needed(a.seconds, a.trace))
            cfg["metric_inputs"] = other
        else:
            inputs.generate("batch_dedup", a.seed, other)
            cfg["batch_inputs"] = other
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = settings.java_cmd(cp, f"-XX:SharedArchiveFile={archive}", cfg_path,
                            ["-Djava.io.tmpdir=" + os.path.join(work, "tmp")])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(work, "jvm.log")
    launch = time.time()
    rc = run_jvm(cmd, env, work, log_path)
    if rc != 0 or not os.path.exists(cfg["result"]):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"harness JVM exited {rc}")
    with open(cfg["result"]) as f:
        res = json.load(f)

    failures = list(res["checks_failed"])
    needed = ["timed_start_ms"] + (["traced1_attempted"] if a.trace else ["p50_ms"])
    if any(k not in res for k in needed):
        # the workload aborted before its timed phase ended: nothing to report
        for msg in failures:
            print(f"[perfbench] check failed: {msg}", file=sys.stderr)
        fail(f"the run measured nothing; log: {log_path}", code=3)
    if a.workload == "batch_dedup":
        failures += checks.batch(inp, res.get("rows", {}), res.get("oracle_sql", {}))
    else:
        failures += checks.dashboard(inp, plan, res.get("reference", {}))
    for msg in failures:
        print(f"[perfbench] check failed: {msg}", file=sys.stderr)

    setup_s = res["timed_start_ms"] / 1000.0 - launch
    window = {k: res.get(k) for k in ("timed_s", "samples", "windows", "jit_ms", "gc_ms",
                                      "steal_s", "drift_pct", "by_kind_p50_ms")}
    window["setup_s"] = setup_s
    print("[perfbench] window " + json.dumps(window), flush=True)
    if a.trace:
        missing = [m["name"] for m in bench["per_layer"] if m["name"] not in res["layers"]]
        if missing:
            fail(f"the traced run did not measure {missing}; log: {log_path}", code=3)
        metrics = {m["name"]: {"value": float(res["layers"][m["name"]]), "unit": m["unit"]}
                   for m in bench["per_layer"]}
        attempted, failed = res["traced1_attempted"], res["traced1_failed"]
    else:
        vals = {"setup_s": setup_s, "ops_per_s": res["ops_per_s"], "p50_ms": res["p50_ms"],
                "cpu_ms_per_op": res["cpu_ms_per_op"]}
        metrics = {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
        attempted, failed = res["attempted"], res["failed"]
    correct = not failures and failed == 0
    if correct:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
