"""Runs each workload untraced on several seeds and records, for every
end-to-end metric, the median, the quartiles and the spread (interquartile
distance as a share of the median) next to the bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --runs 10 --out perfbench/steadiness.json [workload ...]

Seeds are 1..runs. A workload is reported as not steady if any metric's
spread exceeds its bound.
"""
import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import rollup  # noqa: E402


def main():
    p = argparse.ArgumentParser()
    p.add_argument("workloads", nargs="*")
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--out", type=Path)
    args = p.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    record = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in names:
        runs, spent = [], []
        for seed in range(1, args.runs + 1):
            t = time.monotonic()
            out = subprocess.run([*bench["command"], "--workload", w, "--seed", str(seed), "--seconds",
                                  str(bench["run_seconds"]), "--trace", "0"], cwd=HERE.parent,
                                 capture_output=True, text=True)
            spent.append(time.monotonic() - t)
            last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
            res = json.loads(last) if out.returncode == 0 else {}
            runs.append(res)
            print(f"{w} seed {seed}: rc {out.returncode}, {spent[-1]:.1f} s, correct {res.get('correct')}",
                  file=sys.stderr)
        ok = [r for r in runs if r.get("correct")]
        metrics = {}
        for m in bounds:
            values = [r["metrics"][m]["value"] for r in ok]
            if not values:
                continue
            q1, q2, q3 = rollup.quartiles(values)
            metrics[m] = {"median": q2, "q1": q1, "q3": q3, "spread": rollup.spread(values),
                          "bound": bounds[m], "values": values}
        steady = all(v["spread"] <= bounds[m] for m, v in metrics.items())
        record["workloads"][w] = {"runs": len(runs), "correct": len(ok), "steady": steady,
                                  "run_wall_s": {"median": rollup.median(spent), "max": max(spent)},
                                  "metrics": metrics}
        for m, v in metrics.items():
            print(f"{w} {m}: median {v['median']:.6g}, spread {v['spread']:.4f} (bound {v['bound']})")
    text = json.dumps(record, indent=1)
    if args.out:
        args.out.write_text(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
