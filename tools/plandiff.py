#!/usr/bin/env python3
"""Diff two `graft.tools.PlanDump` outputs, query by query.

    python3 tools/plandiff.py <dirA> <tagA> <dirB> <tagB>

PlanDump writes `<dir>/<query>_<tag>.txt` (the final formatted plan) and
`<dir>/summary_<tag>.tsv` (jobs, exchanges, stages, tasks, task ms per
query). Before comparing, each plan is normalized for what differs between
two runs of the same plan: expression and plan ids, lambda variable
numbers, lambda class names, object hashes, RDD ids, `/tmp` and `/dev/shm`
scratch paths, codegen stage ids and query-stage ids.

Prints one line per query: `identical` or `DIFFERS`, with each of jobs,
exchanges, stages and tasks that differs as `A->B`, and the first changed
lines of a differing plan. Task ms is a time and is not compared.
Exits 1 if any plan or count differs, or a query is in one dump only.
"""
import csv
import difflib
import os
import re
import sys

COUNTS = ("jobs", "exchanges", "stages", "tasks")
SHOWN_LINES = 8

_SUBS = [
    # lambda class names and object hashes: Foo$$$Lambda$12/0x7f..@1a2b
    (re.compile(r"\$\$Lambda[$\w/]*"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{5,}\b"), "@<hash>"),
    # scratch paths of fixtures, checkpoints and spill files
    (re.compile(r"(/tmp|/dev/shm)/[^\s,\]\)]*"), "<scratch>"),
    # lambda variables print as `lambda x_12#345`
    (re.compile(r"\blambda (\w+?)_\d+"), r"lambda \1_N"),
    # expression ids (`col#12`, `count#45L`) and `[id=#7]`
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\bplan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
]
_STAGE_HEADER = re.compile(r"^\(\d+\) \w*QueryStage\b")


def normalize(text):
    out = []
    in_stage = False
    for line in text.splitlines():
        for pat, rep in _SUBS:
            line = pat.sub(rep, line)
        if line.startswith("("):
            in_stage = bool(_STAGE_HEADER.match(line))
        elif in_stage and line.startswith("Arguments: "):
            # a query stage's only argument is its id
            line = re.sub(r"^Arguments: \d+$", "Arguments: N", line)
        out.append(line)
    return out


def plans(d, tag):
    suffix = f"_{tag}.txt"
    return {f[: -len(suffix)]: os.path.join(d, f)
            for f in os.listdir(d) if f.endswith(suffix)}


def summary(d, tag):
    path = os.path.join(d, f"summary_{tag}.tsv")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return {r["query"]: r for r in csv.DictReader(f, delimiter="\t")}


def main(argv):
    if len(argv) != 5:
        sys.exit(__doc__.strip().split("\n\n")[1])
    dir_a, tag_a, dir_b, tag_b = argv[1:]
    pa, pb = plans(dir_a, tag_a), plans(dir_b, tag_b)
    sa, sb = summary(dir_a, tag_a), summary(dir_b, tag_b)
    failed = 0
    for q in sorted(set(pa) | set(pb)):
        if q not in pa or q not in pb:
            print(f"{q}: only in {'A' if q in pa else 'B'}")
            failed += 1
            continue
        with open(pa[q]) as f:
            la = normalize(f.read())
        with open(pb[q]) as f:
            lb = normalize(f.read())
        deltas = [f"{c} {sa[q][c]}->{sb[q][c]}" for c in COUNTS
                  if q in sa and q in sb and sa[q][c] != sb[q][c]]
        same = la == lb
        print(f"{q}: {'identical' if same else 'DIFFERS'}"
              + (f" ({', '.join(deltas)})" if deltas else ""))
        if not same:
            changed = [l for l in difflib.unified_diff(la, lb, lineterm="", n=0)
                       if l[:1] in "+-" and not l.startswith(("+++", "---"))]
            for l in changed[:SHOWN_LINES]:
                print(f"    {l}")
            if len(changed) > SHOWN_LINES:
                print(f"    ... {len(changed) - SHOWN_LINES} more changed lines")
        if not same or deltas:
            failed += 1
    print(f"== {len(set(pa) | set(pb)) - failed}/{len(set(pa) | set(pb))} identical ==")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
