#!/usr/bin/env python3
"""Steadiness report: run workloads repeatedly on the same code and
summarize every metric.

    python3 graftbench/steady.py --workloads batch_history,stream_drain \\
        --seeds 11-20 [--sets 2] [--seconds 20] [--trace 0] [--save <dir>]

Each run is `run.py` with its own seed, one after another. The runs are
interleaved: for each seed, every set runs every workload in turn, so a
host that speeds up or slows down for some minutes touches all workloads
and sets alike, and set k of a seed reads the same inputs as set 1. For
every metric it prints, per workload and set, the median, the quartiles
(Python's statistics.quantiles, n=4), the spread (q3 - q1) / median that
the benchmark bounds are judged by, and min/max; with more than one set,
the change of each median against set 1. It also prints the wall time of
each pass of the fixed schedule, as the median over runs, and for every
pair of consecutive measured passes in how many runs the later one was
faster: a schedule whose measured passes sit past the warm-up curve shows
no systematic speed-up there. `--save <dir>` writes `<workload>.json` there.
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
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
            "min": min(values), "max": max(values), "values": values}


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    if r.returncode != 0:
        sys.exit(f"{workload} seed {seed}: run.py exited {r.returncode}\n{r.stdout}{r.stderr}")
    result = json.loads(r.stdout.strip().splitlines()[-1])
    run_dir = os.path.join(ROOT, ".bench_build", "runs", f"{workload}-s{seed}-t{trace}")
    with open(os.path.join(run_dir, "artifact.json")) as f:
        artifact = json.load(f)
    return {"seed": seed, "result": result, "passes": artifact["passes"],
            "env": artifact["env"]}


def report(workload, sets, seconds, trace):
    names = list(sets[0][0]["result"]["metrics"])
    metrics = [{n: summary([r["result"]["metrics"][n]["value"] for r in runs])
                for n in names} for runs in sets]
    print(f"\n{workload}: {len(sets)} set(s) of {len(sets[0])} runs, --seconds {seconds},"
          f" --trace {trace}")
    print(f"{'metric':34s} {'set':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s}"
          f" {'spread':>8s} {'min':>12s} {'max':>12s} {'vs set 1':>9s}")
    change = {}
    for n in names:
        for k, m in enumerate(metrics):
            s = m[n]
            base = metrics[0][n]["median"]
            rel = s["median"] / base - 1 if base else 0.0
            if k:
                change.setdefault(n, []).append(rel)
            print(f"{n:34s} {k + 1:3d} {s['median']:12.6g} {s['q1']:12.6g} {s['q3']:12.6g}"
                  f" {s['spread']:8.2%} {s['min']:12.6g} {s['max']:12.6g}"
                  + (f" {rel:+9.2%}" if k else ""))

    runs = [r for rs in sets for r in rs]
    walls = [[p["wall_s"] for p in r["passes"]] for r in runs]
    phases = [f"{p['phase']}{'*' if p['traced'] else ''}" for p in runs[0]["passes"]]
    curve = [statistics.median(w[i] for w in walls) for i in range(len(phases))]
    print("pass walls (median over runs, s): " +
          ", ".join(f"{ph} {c:.3f}" for ph, c in zip(phases, curve)))
    measured = [i for i, ph in enumerate(phases) if ph.startswith("measured")]
    faster = []
    for a, b in zip(measured, measured[1:]):
        n = sum(1 for w in walls if w[b] < w[a])
        faster.append({"passes": [a, b], "later_faster_runs": n, "runs": len(walls),
                       "median_ratio": statistics.median(w[b] / w[a] for w in walls)})
        print(f"measured pass {b} faster than pass {a} in {n}/{len(walls)} runs; "
              f"median ratio {faster[-1]['median_ratio']:.3f}")
    return {"workload": workload, "seconds": seconds, "trace": trace,
            "env": runs[0]["env"], "seeds": [r["seed"] for r in sets[0]],
            "sets": metrics, "median_change_vs_set1": change, "pass_phases": phases,
            "pass_walls": walls, "pass_wall_medians": curve,
            "consecutive_measured": faster}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="11-20")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--save", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds if args.seconds is not None else bench["run_seconds"]
    workloads = args.workloads.split(",")

    runs = {w: [[] for _ in range(args.sets)] for w in workloads}
    for seed in seeds(args.seeds):
        for k in range(args.sets):
            for w in workloads:
                r = run_once(w, seed, seconds, args.trace)
                runs[w][k].append(r)
                res = r["result"]
                print(f"{w} seed {seed} set {k + 1}: correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']}", flush=True)

    for w in workloads:
        out = report(w, runs[w], seconds, args.trace)
        if args.save:
            os.makedirs(args.save, exist_ok=True)
            with open(os.path.join(args.save, f"{w}.json"), "w") as f:
                json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
