"""Steadiness check: runs workloads repeatedly, each run with its own seed,
and prints for every end-to-end metric the median, the quartiles, the
quartile spread (q3-q1)/median next to the metric's bound from
BENCHMARK.json, and (max-min)/median.

    python3 e2ebench/steady.py [--workload NAME ...] [--runs 10] [--first-seed 1]

Run from the repository root. Without --workload it runs every workload
BENCHMARK.json lists, with its run_seconds. Exits 1 if a run fails, an
output check fails, or a spread (setup_s excepted) exceeds its bound.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for wl in workloads:
        values = {}
        for i in range(args.runs):
            seed = args.first_seed + i
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not last.startswith("{"):
                print(f"{wl} seed {seed}: run failed (exit {p.returncode})", flush=True)
                ok = False
                continue
            res = json.loads(last)
            ok &= res["correct"]
            print(f"{wl} seed {seed}: correct={res['correct']} failed={res['failed']}/"
                  f"{res['attempted']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"\n{wl}: {len(next(iter(values.values()), []))} runs")
        print(f"{'metric':16s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s} "
              f"{'bound':>6s} {'range/med':>9s}")
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            med, q1, q3, iqr, rng = stats.spread(vs)
            flag = ""
            if k != "setup_s" and iqr > bounds[k]:
                flag, ok = " OVER BOUND", False
            elif iqr > bounds[k] / 3:
                flag = " (over a third of the bound)"
            print(f"{k:16s} {med:12.4f} {q1:12.4f} {q3:12.4f} {iqr:8.3f} {bounds[k]:6.2f} "
                  f"{rng:9.3f}{flag}")
        print(flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
