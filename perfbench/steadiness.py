"""Run the benchmark on several seeds and print each end-to-end metric's
median and quartile spread ((Q3 - Q1) / median, with
``statistics.quantiles(values, n=4)``) next to its bound.

    python3 perfbench/steadiness.py --workload query --seeds 1-10 [--out runs.jsonl]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs = []
    for s in seeds(a.seeds):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=ROOT)
        if r.returncode != 0:
            sys.exit(f"seed {s}: exit {r.returncode}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        res["seed"] = s
        diag = [l for l in r.stderr.splitlines() if l.startswith("diagnostics ")]
        if diag:
            res["diagnostics"] = json.loads(diag[-1][len("diagnostics "):])
        runs.append(res)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps(res) + "\n")
        print(f"seed {s}: correct={res['correct']} " +
              " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{m['name']:28s} median={med:<12.5g} spread={spread:.3f} bound={m['bound']}")


if __name__ == "__main__":
    main()
