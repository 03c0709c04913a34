#!/usr/bin/env python3
"""Head-to-head baseline: run every oracle SQL from a Verify dump in DuckDB
(single-threaded) over the same parquet tables.

Usage: duck_bench.py [--serve] SFDIR ORACLE_JSON [name ...]

--serve (VERDICT r13 #2, paired interleaved legs): instead of running a
fixed list, print {"ready": true} and then serve query names line-by-line
from stdin — for each, run the same timing protocol and print one JSON
line {"query": name, "sec": s, "runs": [...]} (or {"query", "error"}).
On "EXIT"/EOF, exit. graft.Bench drives this so each (spark, duck)
pair is measured seconds apart in ONE window, instead of two monolithic
legs hours apart whose ratio the ±25-40% VM drift dominates.

Timing protocol — SYMMETRIC with graft.Bench's Spark leg (VERDICT r10 #4:
the asymmetry of warm+min-of-N Spark vs one cold DuckDB run made single
pairs swing with host noise, e.g. 127 s vs 196 s for the identical SQL in
the same round):

  - every query gets an untimed warmup run (buffer/metadata cache, plan
    cache), then one timed run;
  - a query whose first timed run exceeds 1 s gets two more timed runs;
  - while the max/min spread of the timed runs exceeds 2x, one adaptive
    extra run is added, up to 5 total;
  - the reported per-query estimate is the MIN of the timed runs
    (contention only inflates a run; the fastest observation is closest
    to steady-state cost).

Without --serve, prints one JSON line: {"total": sec, "queries":
{name: sec}, "runs": {name: [sec, ...]}} — "runs" carries the full vector
for every multi-run query so both legs' spreads are quotable side by side.
"""
import json
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> None:
    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    serve = "--serve" in sys.argv[1:]
    sfdir, oracle_path = argv[0], argv[1]
    only = set(argv[2:])
    sqls = json.load(open(oracle_path))
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    con.execute("SET TimeZone = 'UTC'")

    def measure(sql):
        def timed() -> float:
            t0 = time.monotonic()
            con.execute(sql).fetchall()
            return round(time.monotonic() - t0, 3)

        con.execute(sql).fetchall()  # warmup: untimed, as the Spark leg
        # ADVICE r11: every query gets >= 2 timed runs (min-of-N like the
        # Spark leg); expensive ones get a third up front, and the spread
        # check can extend any of them to 5.
        runs = [timed(), timed()]
        if runs[0] > 1.0:
            runs.append(timed())
        while len(runs) < 5 and max(runs) > 2.0 * min(runs):
            runs.append(timed())
        return min(runs), runs

    if serve:
        print(json.dumps({"ready": True}), flush=True)
        for line in sys.stdin:
            name = line.strip()
            if not name or name == "EXIT":
                break
            sql = sqls.get(name)
            if sql is None:
                print(json.dumps({"query": name, "error": "no-oracle"}),
                      flush=True)
                continue
            try:
                sec, runs = measure(sql)
            except Exception as e:  # keep serving; the pair is just lost
                print(json.dumps({"query": name,
                                  "error": type(e).__name__}), flush=True)
                continue
            print(json.dumps({"query": name, "sec": sec, "runs": runs}),
                  flush=True)
        return

    times = {}
    multi = {}
    for name, sql in sorted(sqls.items()):
        if only and name not in only:
            continue
        times[name], runs = measure(sql)
        if len(runs) > 1:
            multi[name] = runs
    print(json.dumps({"total": round(sum(times.values()), 2),
                      "queries": times, "runs": multi}))


if __name__ == "__main__":
    main()
