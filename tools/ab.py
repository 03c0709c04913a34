"""A/B of two commits on the repository benchmark, in one host window.

    python3 tools/ab.py --parent HEAD~1 --change HEAD --pairs 5 --seed 1
    python3 tools/ab.py --workload stream_drain --pairs 10

Checks out both commits the same way, each into its own local `git clone`
under `--work`, builds each with its own
`graftbench/build.py`, then runs each side's own `graftbench/run.py`
alternately, pair by pair (parent first in even pairs, change first in odd
ones), so host drift falls on both sides alike. Every run is printed as it
ends. Per workload and metric of `BENCHMARK.json` (end-to-end by default,
per-layer with `--trace 1`) the summary gives both medians, both IQRs, the
change's relative delta and the pairs the change won. A metric reads
"unresolved" when either side's own IQR, relative to its median, exceeds
the metric's bound; "gap>iqr" marks a median gap wider than the parent's
IQR. Failed runs and failed checks are counted, never dropped.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args, cwd=ROOT):
    return subprocess.run(["git", *args], cwd=cwd, check=True, text=True,
                          capture_output=True).stdout.strip()


def checkout(sha, path):
    if os.path.exists(path):
        sys.exit(f"ab: {path} exists; remove it or pass another --work")
    git("clone", "--quiet", "--no-checkout", ROOT, path)
    git("checkout", "--quiet", "--detach", sha, cwd=path)


def run(side, path, workload, seed, trace):
    cmd = [sys.executable, "graftbench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=path, text=True, capture_output=True)
    result = None
    for line in reversed(p.stdout.splitlines()):
        if line.startswith("{"):
            result = json.loads(line)
            break
    ok = p.returncode == 0 and result is not None
    if not ok:
        print(f"[{side}] run.py exited {p.returncode}:\n{p.stderr[-2000:]}", file=sys.stderr)
    return {"side": side, "ok": ok and result["correct"], "wall_s": time.time() - t0,
            "failed": result["failed"] if ok else None,
            "attempted": result["attempted"] if ok else None,
            "metrics": {k: v["value"] for k, v in result["metrics"].items()} if ok else {}}


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def summarize(pairs, metrics):
    rows = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        done = [(p, c) for p, c in pairs if name in p["metrics"] and name in c["metrics"]]
        if not done:
            continue
        a = [p["metrics"][name] for p, _ in done]
        b = [c["metrics"][name] for _, c in done]
        ma, mb = statistics.median(a), statistics.median(b)
        ia, ib = iqr(a), iqr(b)
        wins = sum(1 for x, y in done
                   if (y["metrics"][name] < x["metrics"][name]) == lower
                   and y["metrics"][name] != x["metrics"][name])
        bound = m.get("bound")
        spread = max(ia / ma if ma else 0.0, ib / mb if mb else 0.0)
        rows.append({"metric": name, "parent_median": ma, "change_median": mb,
                     "parent_iqr": ia, "change_iqr": ib,
                     "delta_pct": 100 * (mb - ma) / ma if ma else None,
                     "change_wins": wins, "pairs": len(done),
                     "gap_gt_parent_iqr": abs(mb - ma) > ia,
                     "unresolved": bound is not None and spread > bound})
    return rows


def table(workload, rows):
    out = [f"## {workload}", "",
           "| metric | parent median | change median | parent IQR | change IQR | delta | "
           "change wins | note |",
           "|---|---|---|---|---|---|---|---|"]
    for r in rows:
        note = ", ".join(n for n, on in (("unresolved", r["unresolved"]),
                                          ("gap>iqr", r["gap_gt_parent_iqr"])) if on)
        delta = "n/a" if r["delta_pct"] is None else f"{r['delta_pct']:+.1f}%"
        out.append(f"| {r['metric']} | {r['parent_median']:.6g} | {r['change_median']:.6g} | "
                   f"{r['parent_iqr']:.4g} | {r['change_iqr']:.4g} | {delta} | "
                   f"{r['change_wins']}/{r['pairs']} | {note} |")
    return "\n".join(out)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in bench["workloads"]],
                    help="repeatable; default: every workload of BENCHMARK.json")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", default=os.path.join(ROOT, ".ab_build"),
                    help="directory for the two checkouts (default .ab_build/)")
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    metrics = bench["per_layer" if args.trace else "end_to_end"]

    sides = {"parent": git("rev-parse", args.parent), "change": git("rev-parse", args.change)}
    paths = {s: os.path.join(args.work, s) for s in sides}
    os.makedirs(args.work, exist_ok=True)
    print(f"# ab parent={sides['parent'][:12]} change={sides['change'][:12]} "
          f"pairs={args.pairs} seed={args.seed} trace={args.trace}")
    made = []
    try:
        for s, sha in sides.items():
            checkout(sha, paths[s])
            made.append(paths[s])
            b = subprocess.run([sys.executable, "graftbench/build.py"], cwd=paths[s],
                               text=True, capture_output=True)
            if b.returncode != 0:
                sys.exit(f"ab: {s} build failed:\n{b.stderr[-2000:]}")
        for w in workloads:
            pairs = []
            for i in range(args.pairs):
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                got = {}
                for s in order:
                    got[s] = run(s, paths[s], w, args.seed, args.trace)
                    shown = {m["name"]: round(got[s]["metrics"].get(m["name"], float("nan")), 4)
                             for m in metrics[:9]}
                    print(f"{w} pair {i + 1}/{args.pairs} {s}: ok={got[s]['ok']} "
                          f"failed={got[s]['failed']} {json.dumps(shown)}", flush=True)
                pairs.append((got["parent"], got["change"]))
            rows = summarize(pairs, metrics)
            bad = sum(1 for p in pairs for r in p if not r["ok"])
            print(f"\n{table(w, rows)}\n\nruns not ok: {bad} of {2 * len(pairs)}\n", flush=True)
    finally:
        for p in made:
            shutil.rmtree(p)


if __name__ == "__main__":
    main()
