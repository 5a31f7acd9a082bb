"""Record a benchmark trajectory point: runs every workload of
BENCHMARK.json on seeds 1..N untraced and once traced, and writes each
end-to-end metric's median and quartiles (with the quartile spread as a
share of the median, next to the metric's bound) plus the traced run's
per-layer numbers to perfbench/results/<name>.json.

    python3 perfbench/baseline.py seed_baseline [--runs 10]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(bench, workload, seed, trace):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit "
                         f"{r.returncode}\n{r.stdout[-2000:]}")
    return json.loads(lines[-1]), lines[:-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("name")
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = {"runs": args.runs, "run_seconds": bench["run_seconds"],
           "command": bench["command"], "workloads": {}}
    for w in bench["workloads"]:
        name = w["name"]
        values, failed, attempted = {}, 0, 0
        for seed in range(1, args.runs + 1):
            res, _ = run(bench, name, seed, 0)
            failed += res["failed"]
            attempted += res["attempted"]
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{name} seed {seed}: correct={res['correct']}", flush=True)
        summary = {}
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            summary[k] = {"median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med, "bound": bounds[k],
                          "values": vs}
            print(f"  {k:24s} median {med:.4f}  spread {(q3 - q1) / med:.4f}"
                  f"  bound {bounds[k]}", flush=True)
        traced, report = run(bench, name, args.runs + 1, 1)
        out["workloads"][name] = {
            "end_to_end": summary, "failed": failed, "attempted": attempted,
            "traced_seed": args.runs + 1,
            "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
            "trace_report": [line for line in report
                             if line.startswith("[perfbench]")]}
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    path = os.path.join(HERE, "results", f"{args.name}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    sys.exit(main())
