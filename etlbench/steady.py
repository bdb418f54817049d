#!/usr/bin/env python3
"""Steadiness check for the benchmark itself.

    python3 etlbench/steady.py --runs 10 --sets 2 [--workloads reference_etl ...]

Runs `--sets` sets of `--runs` untraced runs of each workload, each run
with its own seed, and reports for every end-to-end metric each set's
median, quartiles (`statistics.quantiles(n=4)`) and spread, the distance
between the quartiles as a share of the median. A set is steady when
every spread is within the metric's bound; two sets agree
when no metric's second median is worse than the first by more than its
bound. Exits 1 if a run fails its checks, a set is unsteady or the sets
disagree. Run from the root of a checkout.
"""
import argparse
import json
import statistics
import subprocess
import sys


def run_once(workload, seed, seconds):
    out = subprocess.run([sys.executable, "etlbench/run.py", "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: run.py exited {out.returncode}")
    lines = [json.loads(l) for l in out.stdout.strip().splitlines()]
    return lines[-1], lines[-2]["record"]


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def worse(metric, first, second):
    """Relative change of `second` against `first`, positive when worse."""
    d = (second - first) / first
    return d if metric["better"] == "lower" else -d


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--out", help="also write the report here as JSON")
    args = ap.parse_args()

    ok = True
    report = {}
    for w in args.workloads:
        sets = []
        for s in range(args.sets):
            runs = [run_once(w, args.seed0 + 100 * s + k, spec["run_seconds"])
                    for k in range(args.runs)]
            results = [r for r, _ in runs]
            for r, rec in runs:
                if not r["correct"]:
                    print(f"{w}: seed {rec['seed']} failed its output checks: {rec['failures']}")
                    ok = False
            st = {m["name"]: summary([r["metrics"][m["name"]]["value"] for r in results])
                  for m in spec["end_to_end"]}
            # diagnostics: host CPU probe (ms, before and after), the
            # host's steal share during the run, and JVM time per run
            st["_runs"] = [{"seed": rec["seed"], "cpu_probe_ms": rec["cpu_probe_ms"],
                            "cpu_steal_share": rec["cpu_steal_share"], "jvm_s": rec["jvm_s"]}
                           for _, rec in runs]
            sets.append(st)
        report[w] = sets
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            line = [f"{w:14s} {name:18s} bound {bound:4.2f}"]
            for s, st in enumerate(sets):
                steady = st[name]["spread"] <= bound
                ok &= steady
                line.append(f"set{s}: median {st[name]['median']:10.3f} "
                            f"[{st[name]['q1']:.3f}, {st[name]['q3']:.3f}] "
                            f"spread {st[name]['spread']:.3f}{'' if steady else ' UNSTEADY'}")
            if len(sets) > 1:
                d = worse(m, sets[0][name]["median"], sets[1][name]["median"])
                agree = d <= bound
                ok &= agree
                line.append(f"second vs first {d:+.3f}{'' if agree else ' DISAGREE'}")
            print("  ".join(line))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
