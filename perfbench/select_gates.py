#!/usr/bin/env python3
"""Choose the fixed gate subsets of the `relational` and `llm` workloads
from a traced survey over every gate of the family, and show how the
subset compares with the whole family.

    python3 perfbench/run.py --workload llm --seed 1 --seconds 0 --trace 1 --gates all
    python3 perfbench/select_gates.py --workload llm \\
        --spans .bench_build/traces/llm-1.spans.jsonl \\
        [--out perfbench/baseline/survey-llm.json]

The rule: the gates a workload must hold (FORCED) are in it; the rest
are sampled. Take each other gate's median wall time over the survey's
traced passes, sort by it and cut the sorted list into PICKS strata of
equal size; the sample holds one gate of each stratum, so its latencies
spread like the family's. Starting from the middle gate of each stratum,
one stratum at a time swaps in the gate that most shrinks the gap
between the sample's and the sampled gates' profile: the sum over
MATCHED measures (share of time outside jobs, share in builders, busy
ratio, shuffle bytes per second, and pass time scaled by the sampling
rate) of log(sample / family) squared. It stops when no swap shrinks the gap.
"""
import argparse
import json
import math
import statistics

PICKS = {"relational": 16, "llm": 6}
# the gates that maintain an index on disk; llm must measure them
FORCED = {"relational": [],
          "llm": ["x_ann_recall_maintained", "x_cosine_ann_ivf_append",
                  "x_incremental_dedup_pruned"]}
CORES = 4
MATCHED = ("outside_jobs_share", "builder_share", "busy_ratio",
           "shuffle_mb_per_s", "pass_s")
KEYS = ("queries.build_ms", "exec.driver_gap_ms", "exec.task_ms",
        "shuffle.write_bytes", "shuffle.read_bytes", "fs.bytes_written",
        "scan.input_bytes")


def per_gate(spans_path):
    """Median over traced passes of each gate's wall ms and counters."""
    spans = [json.loads(l) for l in open(spans_path)]
    passes = {s["id"] for s in spans if s["name"].startswith("pass ")}
    seen = {}
    for s in spans:
        if s["parent"] in passes:
            row = {"wall_ms": s["end_ms"] - s["start_ms"]}
            row.update({k: s["attrs"].get(k, 0.0) for k in KEYS})
            seen.setdefault(s["name"], []).append(row)
    return {g: {k: statistics.median(r[k] for r in rows) for k in rows[0]}
            for g, rows in seen.items()}


def choose(gates, picks, forced):
    rest = sorted((g for g in gates if g not in forced),
                  key=lambda g: (gates[g]["wall_ms"], g))
    step = len(rest) / picks
    strata = [rest[int(i * step):int((i + 1) * step)] for i in range(picks)]
    chosen = [st[len(st) // 2] for st in strata]
    family = profile(gates, rest)

    def gap(names):
        sub = profile(gates, names)
        sub["pass_s"] *= step
        return sum(math.log(max(sub[m], 1e-9) / family[m]) ** 2 for m in MATCHED)

    best = gap(chosen)
    improved = True
    while improved:
        improved = False
        for i, st in enumerate(strata):
            for g in st:
                trial = chosen[:i] + [g] + chosen[i + 1:]
                d = gap(trial)
                if d < best - 1e-12:
                    best, chosen, improved = d, trial, True
    return sorted(chosen + list(forced))


def profile(gates, names):
    rows = [gates[n] for n in names]
    wall = sum(r["wall_ms"] for r in rows)
    total = lambda k: sum(r[k] for r in rows)
    return {
        "gates": len(rows),
        "pass_s": wall / 1000,
        "op_p50_s": statistics.median(r["wall_ms"] for r in rows) / 1000,
        "outside_jobs_share": total("exec.driver_gap_ms") / wall,
        "builder_share": total("queries.build_ms") / wall,
        "busy_ratio": total("exec.task_ms") / (wall * CORES),
        "shuffle_mb_per_s": (total("shuffle.write_bytes") + total("shuffle.read_bytes"))
        / 1e6 / (wall / 1000),
        "scan_mb_per_s": total("scan.input_bytes") / 1e6 / (wall / 1000),
        "fs_written_kb_per_s": total("fs.bytes_written") / 1e3 / (wall / 1000),
    }


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(PICKS))
    p.add_argument("--spans", required=True)
    p.add_argument("--out", default=None)
    a = p.parse_args()
    gates = per_gate(a.spans)
    chosen = choose(gates, PICKS[a.workload], FORCED[a.workload])
    forced = FORCED[a.workload]
    rest = [g for g in sorted(gates) if g not in forced]
    profiles = {"family": profile(gates, sorted(gates)),
                "subset": profile(gates, chosen)}
    if forced:
        profiles["family without forced"] = profile(gates, rest)
        profiles["sample (subset without forced)"] = profile(
            gates, [g for g in chosen if g not in forced])
    print("subset:", ", ".join(f'"{g}"' for g in chosen))
    print("| | " + " | ".join(profiles["family"]) + " |")
    print("|---" * (len(profiles["family"]) + 1) + "|")
    for label, prof in profiles.items():
        print(f"| {label} | " + " | ".join(f"{v:.4g}" for v in prof.values()) + " |")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"rule": __doc__.split("The rule: ")[1].strip(),
                       "picks": PICKS[a.workload], "forced": FORCED[a.workload],
                       "subset": chosen, "profiles": profiles, "gates": gates},
                      f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
