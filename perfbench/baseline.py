"""Run the benchmark on several sets of seeds and summarise each end-to-end
metric per set.

    python3 perfbench/baseline.py --sets 1-10 11-20 --out perfbench/baseline
        [--workloads small_plans,corpus_dedup]

The sets run interleaved: the i-th seed of every set runs, for every
workload, before the (i+1)-th seed of any set, so a host that speeds up or
slows down over the session moves every set alike. For every set it writes
`<out>/set<k>.json` with each metric's values, their median, first and
third quartiles (`statistics.quantiles(n=4)`) and the spread
(Q3 - Q1) / median, next to the metric's bound in BENCHMARK.json. It
prints, per workload and metric, how far each set's median is from the
first set's.
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


def run(spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{r.stderr[-2000:]}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    print(workload, seed, json.dumps({k: round(v["value"], 4) for k, v in res["metrics"].items()}),
          "correct" if res["correct"] else "INCORRECT", flush=True)
    return res


def summarise(spec, runs):
    metrics = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        metrics[m["name"]] = {"unit": m["unit"], "median": med, "q1": q1, "q3": q3,
                              "spread": (q3 - q1) / med, "bound": m["bound"], "values": vals}
    return {"correct": all(r["correct"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sets", nargs="+", default=["1-10", "11-20"])
    ap.add_argument("--workloads")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    sets = [seeds(s) for s in a.sets]
    runs = [{w: [] for w in names} for _ in sets]
    for i in range(max(len(s) for s in sets)):
        for w in names:
            for k, s in enumerate(sets):
                if i < len(s):
                    runs[k][w].append(run(spec, w, s[i]))
    os.makedirs(a.out, exist_ok=True)
    summaries = []
    for k, s in enumerate(sets):
        summary = {"run_seconds": spec["run_seconds"], "seeds": a.sets[k],
                   "workloads": {w: summarise(spec, runs[k][w]) for w in names}}
        summaries.append(summary)
        with open(os.path.join(a.out, f"set{k + 1}.json"), "w") as fh:
            json.dump(summary, fh, indent=2)
    for w in names:
        for m in spec["end_to_end"]:
            first = summaries[0]["workloads"][w]["metrics"][m["name"]]["median"]
            for k, summary in enumerate(summaries):
                x = summary["workloads"][w]["metrics"][m["name"]]
                print(f"  {w} {m['name']} set{k + 1}: median {x['median']:.4g} {m['unit']}, "
                      f"spread {x['spread']:.3f}, vs set1 {x['median'] / first - 1:+.3f} "
                      f"(bound {m['bound']})", flush=True)


if __name__ == "__main__":
    main()
