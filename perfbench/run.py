#!/usr/bin/env python3
"""The benchmark's one command. From the checkout root:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source (first run only), generates the workload's
inputs from the seed, runs the workload in one JVM (local[4], one closed-loop
client), checks every output, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the per-layer ones from the traced run,
whose span table is also kept in .bench_build/traces/.

Exits non-zero, without a result line, when the program cannot be built or
run; exits 1 after the result line when an output is wrong.
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

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
DEADLINE_S = 175.0

WORKLOADS = {
    # 2 runs in the reference bundle shape: the fixed cost of a pipeline run dominates
    "etl_pipeline": {"shape": gen.Shape(buildings=1, scenarios=2, hours=168, zones=5, ahus=2)},
    # graft queries over the committed sf0.01 tables, all 8 in each pass
    "query_mix": {"data": os.path.join(HERE, "data", "sf0.01"),
                  "golden": os.path.join(HERE, "golden", "query_mix.tsv")},
}


def inputs(workload, seed):
    """The workload's input directory, generated once per seed and shape."""
    spec = WORKLOADS[workload]
    if "data" in spec:
        return spec["data"], None
    shape = spec["shape"]
    tag = "%s-seed%d-%d.%d.%d.%d.%d" % (workload, seed, shape.buildings, shape.scenarios,
                                        shape.hours, shape.zones, shape.ahus)
    final = os.path.join(build.BUILD, "inputs", tag)
    if not os.path.isfile(os.path.join(final, "answers.json")):
        tmp = final + ".tmp%d" % os.getpid()
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, seed, shape)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    with open(os.path.join(final, "answers.json")) as f:
        return final, json.load(f)


def run_jvm(cmd, env, log_path, timeout):
    """Runs the workload JVM in its own process group; kills the group on
    timeout or on a signal to this process, and waits until it has ended."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT, env=env,
                                start_new_session=True)

        def stop(*_):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()

        def on_signal(signum, _frame):
            stop()
            sys.exit(128 + signum)

        for s in (signal.SIGTERM, signal.SIGINT):
            signal.signal(s, on_signal)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            stop()
            return None


def fail(msg, log_path=None):
    sys.stderr.write("perfbench: %s\n" % msg)
    if log_path and os.path.isfile(log_path):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    sys.exit(2)


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    cp = build.build()
    in_dir, answers = inputs(args.workload, args.seed)
    work = os.path.join(build.BUILD, "work", "%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    log = os.path.join(build.BUILD, "logs", "%s-seed%d-trace%s.log" % (
        args.workload, args.seed, args.trace))
    os.makedirs(os.path.dirname(log), exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory;
    # -XX:-UseDynamicNumberOfCompilerThreads: compiler threads never exit, so
    # their CPU time can be read per thread and taken out of pass_cpu_s
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads"] + build.jvm_opens() + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", args.trace, "--input", in_dir, "--work", work, "--out", out,
        "--queries", ",".join(metrics.QUERY_MIX)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    code = run_jvm(cmd, env, log, DEADLINE_S - (time.time() - t_start))
    if code != 0 or not os.path.isfile(out):
        fail("workload JVM %s" % ("timed out" if code is None else "exited %s" % code), log)
    with open(out) as f:
        record = json.load(f)
    shutil.move(out, log[:-len(".log")] + ".record.json")
    shutil.rmtree(work, ignore_errors=True)

    errors = ["%s: %s" % (o["name"], o["error"]) for o in record["ops"] if not o["ok"]]
    failed = len(errors)
    if answers is not None:
        for obs in record["observed"]:
            errs = metrics.check_etl(obs, answers)
            failed += bool(errs)
            errors += errs
    golden = WORKLOADS[args.workload].get("golden")
    if golden:
        errs = metrics.check_mix(record["checked"], metrics.load_golden(golden))
        failed += len(errs)
        errors += errs
    attempted = len(record["ops"]) + len(record["checked"])
    for e in errors:
        sys.stderr.write("perfbench: MISMATCH %s\n" % e)

    if args.trace == "1":
        values, rows = metrics.per_layer(record, answers)
        units = dict(metrics.per_layer_names())
        trace_dir = os.path.join(build.BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        base = os.path.join(trace_dir, "%s-seed%d" % (args.workload, args.seed))
        with open(base + ".json", "w") as f:
            json.dump({"spans": rows, "ops": record["ops"]}, f, indent=1)
        with open(base + ".md", "w") as f:
            f.write(metrics.layer_table(rows))
    else:
        values = metrics.end_to_end(record)
        units = dict(metrics.END_TO_END)
        wall = metrics.wall_metrics(record)
        ok = [o["wall_s"] * 1000.0 for o in record["ops"] if o["ok"]]
        p90, n, beyond = metrics.percentile_with_tail(ok, 90)
        sys.stderr.write("perfbench: op_p50_ms %.1f, pass_wall_s %.3f, op_p90_ms %s (%d samples, "
                         "%d beyond p90)\n" % (wall["run.op_p50_ms"], wall["run.pass_wall_s"],
                                               "%.1f" % p90 if p90 is not None else "omitted",
                                               n, beyond))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
