#!/usr/bin/env python3
"""Run the benchmark over several seeds and report, for every workload and
end-to-end metric, the median, the inter-quartile spread as a share of the
median, and the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --seeds 10 [--workloads a,b] [--out FILE]

Each run is a separate `perfbench/run.py` invocation, so the output checks
run too; a run that is not correct or has failed operations is reported.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    report = {}
    for w in names:
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            elapsed = time.time() - t0
            if p.returncode != 0:
                print("%s seed %d: exit %d" % (w, seed, p.returncode), flush=True)
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append(res)
            print("%s seed %d (%.0fs): correct=%s attempted=%d failed=%d %s" % (
                w, seed, elapsed, res["correct"], res["attempted"], res["failed"],
                " ".join("%s=%.4g" % (k, v["value"]) for k, v in res["metrics"].items())),
                flush=True)
        rep = {}
        for name, spec in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            if len(vals) < 2:
                continue
            rep[name] = {"unit": spec["unit"], "median": statistics.median(vals),
                         "spread": stats.spread(vals), "bound": spec["bound"], "values": vals}
            print("  %-12s %-6s median %-12.5g spread %.4f  bound %.2f" % (
                name, spec["unit"], rep[name]["median"], rep[name]["spread"], spec["bound"]),
                flush=True)
        report[w] = {"runs": len(runs), "all_correct": all(r["correct"] for r in runs),
                     "failed_ops": sum(r["failed"] for r in runs), "metrics": rep}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
