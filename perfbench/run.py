"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload elt_batch --seed 1 --seconds 12 --trace 0

Builds the program and the harness from source on first use (build.py),
runs the harness in one JVM, checks its outputs, and prints as the last
line of standard output one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. Metric names and units: METRICS.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import rollup  # noqa: E402

WORKLOADS = ("elt_batch", "llm_curation", "media_decode")
DEADLINE_S = 170  # a run must end within 180 s, builds excepted
HARNESS_SHARE = 0.01  # most of an iteration's wall time the harness itself may take

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def harness_env():
    """The caller's environment without the program's tuning dials, so a
    run measures the code's defaults wherever it is started."""
    return {k: v for k, v in os.environ.items()
            if not k.startswith(("GRAFT_", "SPARK_GRAFT_")) and k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}


def run_harness(classes, args, work, deadline):
    result = work / "result.json"
    cmd = ["java", "-Xmx3g", "-Xss8m", *ADD_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Djava.awt.headless=true",
           "-cp", build.classpath(classes), "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", str(work), "--result", str(result)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    budget = deadline - time.monotonic()
    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=harness_env(), stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=max(budget, 30))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: {args.workload} did not finish within {DEADLINE_S} s")
    for line in out.splitlines():
        if line.startswith("perfbench"):
            print(line)
    if proc.returncode != 0 or not result.exists():
        sys.stderr.write(err[-4000:])
        raise SystemExit(f"perfbench: harness exited with code {proc.returncode}")
    return json.loads(result.read_text())


def fmt(value):
    return f"{value:.6g}"


def report(args, res):
    iterations = res["iterations"]
    attempted, failed = rollup.count_failures(iterations)
    correct = failed == 0 and res["input"]["deterministic"]
    measured = [i for i in iterations if i["phase"] == "measure"]
    inp = res["input"]
    print(f"perfbench {args.workload}: seed {args.seed}, input {inp['rows']} rows, {inp['bytes']} bytes, "
          f"digest {inp['digest']}, generator deterministic: {inp['deterministic']}")
    print(f"perfbench {args.workload}: {len(measured)} measured iterations "
          f"({sum(not i['traced'] for i in measured)} untraced) on local[{res['cores']}], closed loop, "
          f"one pipeline at a time")
    setup = res["setup"]
    print(f"perfbench {args.workload}: setup: session {fmt(setup['session_s'])} s, generation "
          f"{' / '.join(fmt(g) for g in setup['generate_s'])} s, warm-up iteration {fmt(setup['warmup_s'])} s")
    print(f"perfbench {args.workload}: error_rate {fmt(failed / attempted)} "
          f"({failed} of {attempted} steps failed or gave a wrong output)")
    for i in iterations:
        for step, why in i["errors"].items():
            print(f"perfbench {args.workload}: {i['phase']} {i['index']} step {step}: {why}")
    measured_harness = [i["harness_s"] for i in measured]
    share = rollup.harness_share(iterations)
    print(f"perfbench {args.workload}: harness time no step covers: median {fmt(rollup.median(measured_harness))} s, "
          f"at most {share:.4%} of an iteration's wall time (limit {HARNESS_SHARE:.0%})")
    if share > HARNESS_SHARE:
        correct = False
    if args.trace:
        metrics = rollup.per_layer(res)
        units = {n: rollup.unit_of(n) for n in metrics}
        print(f"perfbench {args.workload}: trace overhead {fmt(rollup.trace_overhead_s(res))} s "
              f"(traced minus untraced median wall_s)")
        trace_dir = build.BUILD / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        (trace_dir / f"{args.workload}-seed{args.seed}.json").write_text(json.dumps(res["spans"]))
    else:
        metrics = rollup.end_to_end(res)
        units = rollup.END_TO_END
        walls = [i["wall_s"] for i in measured if not i["traced"]]
        q1, q2, q3 = rollup.quartiles(walls)
        print(f"perfbench {args.workload}: wall_s median {fmt(q2)} s, quartiles {fmt(q1)} / {fmt(q3)} "
              f"over {len(walls)} iterations ({', '.join(fmt(w) for w in walls)} s in order)")
    for name, value in metrics.items():
        print(f"perfbench {args.workload}: {name} = {fmt(value)} {units[name]}")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()}}


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    classes = build.build()
    deadline = time.monotonic() + DEADLINE_S
    work = build.BUILD / f"run-{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_harness(classes, args, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report(args, res)))


if __name__ == "__main__":
    main()
