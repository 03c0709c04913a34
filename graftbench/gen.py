"""Seeded input generator for the graft benchmark.

Writes the inputs every workload reads, in the fixture `events` schema
(event_id int64, ts timestamp[us], user_id int64, event_type string,
value double, props string), using only numpy and pyarrow: it never calls
the code under test, so two checkouts given the same seed read
byte-identical files.

  * `ts` is strictly increasing in `event_id` (unique, never NULL), as the
    fixture contract requires.
  * `user_id` is Zipf-skewed over `users` keys, so the hottest key holds a
    large share of the events and shows up as task skew.
  * `event_type` is uniform over the five fixture types; `value` has two
    decimals in [0.01, 500); `props` is `{"k": <0..99>}`.

A stream feed is the same kind of table cut by time into equal, time-ordered
files; each file gets an increasing modification time so a file stream
source admits them in order.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DEFAULT_SEED = 1
HELDOUT_SEED = 9001  # never used while tuning the schedule or the bounds

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
START_US = 1704067200000000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86400 * 1000000  # 30 days of event time
ZIPF_S = 1.0

SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def events(rng, n, users):
    """One events table of `n` rows (event_id 0..n-1)."""
    gaps = rng.integers(1, 2 * SPAN_US // n, size=n, dtype=np.int64)
    ts = START_US + np.cumsum(gaps)
    ranks = np.arange(1, users + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    # a seeded permutation, so the hot key is not always user 0
    user_ids = rng.permutation(users).astype(np.int64)
    user_id = user_ids[rng.choice(users, size=n, p=p)]
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)]
    value = rng.integers(1, 50000, size=n) / 100.0
    k = rng.integers(0, 100, size=n)
    props = ['{"k": %d}' % x for x in k.tolist()]
    return pa.table([
        pa.array(np.arange(n, dtype=np.int64)),
        pa.array(ts, type=pa.timestamp("us")),
        pa.array(user_id),
        pa.array(etype.tolist(), type=pa.string()),
        pa.array(value),
        pa.array(props, type=pa.string()),
    ], schema=SCHEMA)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def digest(paths):
    """sha256 over the bytes of `paths`, in the given order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(os.path.basename(p).encode())
            h.update(f.read())
    return h.hexdigest()


def generate(out_dir, seed, n, users, files=0):
    """Write `events.parquet` (files == 0) or a feed of `files` parquet
    files under `feed/` into `out_dir`; return the manifest. Idempotent:
    an existing complete manifest for the same parameters is reused."""
    params = {"seed": seed, "events": n, "users": users, "files": files,
              "zipf_s": ZIPF_S}
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            m = json.load(f)
        if m.get("params") == params:
            return m
    # files of an earlier generation with other parameters must not stay
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    table = events(np.random.default_rng(seed), n, users)
    if files == 0:
        paths = [os.path.join(out_dir, "events.parquet")]
        _write(table, paths[0])
    else:
        feed = os.path.join(out_dir, "feed")
        os.makedirs(feed, exist_ok=True)
        bounds = np.linspace(0, n, files + 1).astype(int)
        paths = []
        for i in range(files):
            p = os.path.join(feed, "part-%03d.parquet" % i)
            _write(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
            # admission order of a file source is modification time
            os.utime(p, (1700000000 + i, 1700000000 + i))
            paths.append(p)
    m = {"params": params, "rows": n,
         "files": [os.path.relpath(p, out_dir) for p in paths],
         "sha256": digest(paths)}
    with open(manifest_path + ".tmp", "w") as f:
        json.dump(m, f, indent=1)
    os.replace(manifest_path + ".tmp", manifest_path)
    return m
