#!/usr/bin/env python3
"""Run the benchmark repeatedly and report how steady each metric is.

    python3 perfbench/steadiness.py --runs 10 [--workloads relational,llm]
        [--first-seed 1] [--trace 0] [--out perfbench/baseline/steadiness.json]

Each run uses the next seed. For every end-to-end metric of every
workload it reports the median of the runs and the spread: the distance
between the first and third quartile (statistics.quantiles, n=4) as a
share of the median, next to a third of the metric's bound in
BENCHMARK.json. All raw results are kept in the output file, with each
run's progress lines (warm-up and per-pass, per-operation times) and a
host probe timed just before and after it (a fixed single-threaded loop;
it shows when the host itself ran slow).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def host_probe_s():
    """Seconds a fixed single-threaded loop takes: how fast the host runs
    right now, to set each run's figures against."""
    t0 = time.perf_counter()
    x = 0
    for i in range(10_000_000):
        x = (x * 31 + i) % 1_000_003
    return time.perf_counter() - t0


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads", default=None)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", default=None)
    a = p.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    names = (a.workloads.split(",") if a.workloads
             else [w["name"] for w in bench["workloads"]])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    report = {"runs": a.runs, "run_seconds": bench["run_seconds"],
              "trace": a.trace, "workloads": {}}
    for w in names:
        results = []
        for i in range(a.runs):
            seed = a.first_seed + i
            probe_before = host_probe_s()
            t0 = time.time()
            out = subprocess.run(
                [*bench["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]),
                 "--trace", str(a.trace)],
                capture_output=True, text=True)
            wall = time.time() - t0
            last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
            if out.returncode != 0 or not last.startswith("{"):
                print(f"{w} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}",
                      file=sys.stderr)
                sys.exit(1)
            r = json.loads(last)
            r["seed"], r["wall_s"] = seed, round(wall, 3)
            r["host_probe_s"] = [round(probe_before, 4), round(host_probe_s(), 4)]
            # the JVM's progress lines: warm-up and per-pass, per-operation times
            with open(os.path.join(".bench_build", f"{w}.log")) as log:
                r["progress"] = [l.split("PERFBENCH ", 1)[1].rstrip()
                                 for l in log if "PERFBENCH " in l]
            results.append(r)
            print(f"{w} seed {seed} wall {wall:.1f} s probe {r['host_probe_s']}: "
                  f"correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                           if k in bounds), flush=True)
        summary = {}
        for m in results[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in results]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            summary[m] = {"median": med,
                          "spread": (q[2] - q[0]) / med if med else None,
                          "third_of_bound": bounds[m] / 3 if bounds.get(m) else None}
        report["workloads"][w] = {"summary": summary, "results": results}
        for m, s in summary.items():
            if s["third_of_bound"] is not None:
                ok = s["spread"] is not None and s["spread"] < s["third_of_bound"]
                print(f"  {w} {m}: median {s['median']:.4g} spread {s['spread']:.4f} "
                      f"(< {s['third_of_bound']:.4f}: {'yes' if ok else 'NO'})")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
