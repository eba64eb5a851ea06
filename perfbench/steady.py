"""Steadiness of the benchmark: run one workload repeatedly, one seed per run,
and print for each end-to-end metric its median, quartiles, the quartile
spread (Q3 - Q1) / median and the full range (max - min) / median.

    python3 perfbench/steady.py --workload extract --runs 10 --first-seed 1

The bounds in BENCHMARK.json are set from this output: each end-to-end
metric's quartile spread must stay under a third of its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med, "range_share": (max(values) - min(values)) / med}


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    values, failed_shares = {}, []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            sys.exit("seed %d: run.py exited with %d" % (seed, out.returncode))
        r = json.loads(out.stdout.strip().splitlines()[-1])
        if not r["correct"]:
            sys.exit("seed %d: outputs incorrect" % seed)
        failed_shares.append(r["failed"] / r["attempted"])
        line = []
        for name, m in r["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            line.append("%s=%.4g" % (name, m["value"]))
        print("seed %d: %s attempted=%d failed=%d" % (seed, " ".join(line), r["attempted"], r["failed"]),
              flush=True)

    print("\n%-22s %12s %12s %12s %9s %9s %7s" % ("metric", "median", "q1", "q3", "iqr/med",
                                                 "range/med", "bound"))
    summary = {}
    for name, vs in values.items():
        s = summarize(vs)
        summary[name] = s
        bound = bounds.get(name)
        print("%-22s %12.4g %12.4g %12.4g %8.2f%% %8.2f%% %7s" % (
            name, s["median"], s["q1"], s["q3"], 100 * s["iqr_share"], 100 * s["range_share"],
            "-" if bound is None else "%.2f" % bound))
    print("failed share per run: %s" % sorted(set(failed_shares)))
    print(json.dumps({"workload": a.workload, "runs": a.runs, "summary": summary}))


if __name__ == "__main__":
    main()
