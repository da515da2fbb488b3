"""Benchmark entry point. Run from the repository root:

  python3 perfbench/run.py --workload kv_lookup --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark (cached after the first run), generates the
workload's inputs from the seed, runs the workload in one JVM on
local[4], checks every output, and prints one JSON line as the last line
of stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.

The full record of the run (every metric under the workload's own names,
input properties, output problems) goes to stderr and to
.bench_build/results/<workload>-<seed>-t<trace>.json, where compare.py
reads it. Exits non-zero on any wrong output.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

DEADLINE_S = 175  # a run must end within 180 s once built
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def run_jvm(cp, work, workload, seconds, trace, deadline):
    """Run the workload; return the JVM's record, or exit on failure."""
    result = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    cmd = (["java", "-Xmx2g", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in JVM_OPENS]
           + ["-cp", cp, "perfbench.Main", work, workload, str(seconds),
              str(trace), result])
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.isfile(result):
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit("perfbench: JVM run %s" % (
            "timed out" if rc is None else "failed with code %s" % rc))
    with open(result) as fh:
        return json.load(fh)


def on_term(signum, frame):
    raise SystemExit("perfbench: terminated by signal %d" % signum)


def main():
    signal.signal(signal.SIGTERM, on_term)  # so cleanup stops the JVM
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(metrics.OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    cp = build.build(root)  # exits if the graft sources are not there
    deadline = time.time() + DEADLINE_S
    out_dir = build.build_dir(root)
    work = os.path.join(out_dir, "work", "%s-%d-%d" % (
        args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        expect = gen.generate(work, args.seed, args.workload)
        gen_s = time.time() - t0
        raw = run_jvm(cp, work, args.workload, args.seconds, args.trace,
                      deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    problems = metrics.check(args.workload, raw, expect)
    specs = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    values = (metrics.per_layer if args.trace else metrics.end_to_end)(
        args.workload, raw, expect)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "generate_s": gen_s,
        "metrics": {n: {"value": values[n], "unit": u} for n, u, _ in specs},
        "detail": metrics.detail(args.workload, raw, expect),
        "ops_ms": {k: [o["ms"] for o in raw["ops"] if o["kind"] == k]
                   for k in metrics.OPS[args.workload]},
        "setup": {"session_s": raw["session_s"], "prep_ms": raw["prep_ms"]},
        "problems": problems,
    }
    res_dir = os.path.join(out_dir, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, "%s-%d-t%d.json" % (
            args.workload, args.seed, args.trace)), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    sys.stderr.write(json.dumps(record, sort_keys=True) + "\n")
    for p in problems:
        sys.stderr.write("perfbench: WRONG OUTPUT %s\n" % p)
    print(json.dumps({"correct": not problems, "attempted": len(raw["ops"]),
                      "failed": len(problems), "metrics": record["metrics"]}))
    sys.stdout.flush()
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
