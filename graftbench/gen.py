"""Seeded input generator for the graft benchmark.

Writes one workload's inputs under a directory, plus `params.properties`
(the sizes and paths the JVM side reads), and returns the workload's size
and shape parameters. The same seed always gives the same inputs.

    python3 gen.py <workload> <seed> <seconds> <out dir> [--smoke]
"""

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Sizes and shape parameters per workload. `smoke` shrinks them for the
# self-test; the benchmark itself always uses the full sizes.
SIZES = {
    "ingest_append": dict(backlog_files=5, rows_per_file=400, max_files_per_trigger=1,
                          open_files=600, open_min_files=100, open_rate_per_s=15.0,
                          open_trigger_ms=1000, days=4),
    # change files per format: one per `seconds_per_change_file` of run time
    "ingest_merge": dict(base_keys=20000, seconds_per_change_file=3.0, rows_per_change_file=400,
                         update_share=0.6, insert_share=0.25, delete_share=0.15,
                         duplicate_share=0.1, zipf_s=1.2, recent_window=4000,
                         compact_every=3),
}
SMOKE = {
    "ingest_append": dict(backlog_files=2, rows_per_file=100, open_files=40,
                          open_min_files=20),
    "ingest_merge": dict(base_keys=2000, seconds_per_change_file=1e9, rows_per_change_file=100,
                         recent_window=500),
}

EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
DAY0_NS = 1704067200 * 10**9  # 2024-01-01T00:00:00Z


def landed(path, i):
    """Give the i-th file of a feed the modification time DAY0 + i seconds.

    A file stream takes files in modification-time order, and files written
    a few ms apart can share a time stamp on a coarse clock; ties then go in
    directory-listing order, which applies CDC changes out of sequence.
    """
    t = DAY0_NS + i * 10**9
    os.utime(path, ns=(t, t))


def sizes(workload, smoke, seconds):
    s = dict(SIZES[workload])
    if smoke:
        s.update(SMOKE[workload])
    if workload == "ingest_merge":
        s["change_files"] = max(2, round(seconds / s["seconds_per_change_file"]))
    return s


def events(rng, first_id, n, days):
    """Rows in the events-feed shape: ts is int64 nanoseconds."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    ts = DAY0_NS + rng.integers(0, days * 86400 * 10**6, n, dtype=np.int64) * 1000
    users = rng.integers(0, 500, n, dtype=np.int64)
    types = rng.choice(EVENT_TYPES, n)
    values = np.round(rng.gamma(2.0, 20.0, n), 2)
    props = [json.dumps({"k": int(k), "tag": "a,b"}) for k in rng.integers(0, 100, n)]
    return pa.table({"event_id": ids, "ts": ts, "user_id": users,
                     "event_type": pa.array(types, pa.string()), "value": values,
                     "props": pa.array(props, pa.string())})


def write_feed(rng, d, first_id, files, rows, days, csv_dir=None):
    os.makedirs(d, exist_ok=True)
    if csv_dir:
        os.makedirs(csv_dir, exist_ok=True)
    for i in range(files):
        t = events(rng, first_id + i * rows, rows, days)
        pq.write_table(t, os.path.join(d, f"part-{i:05d}.parquet"))
        landed(os.path.join(d, f"part-{i:05d}.parquet"), i)
        if csv_dir:
            pacsv.write_csv(t, os.path.join(csv_dir, f"part-{i:05d}.csv"))
            landed(os.path.join(csv_dir, f"part-{i:05d}.csv"), i)
    return first_id + files * rows


def gen_ingest_append(rng, out, s):
    d = lambda *p: os.path.join(out, "append", *p)
    nxt = write_feed(rng, d("parquet"), 0, s["backlog_files"], s["rows_per_file"], s["days"],
                     csv_dir=d("csv"))
    nxt = write_feed(rng, d("open"), nxt, s["open_files"], s["rows_per_file"] // 4, s["days"])
    write_feed(rng, d("warm"), nxt, 1, 50, s["days"], csv_dir=d("warm_csv"))
    return {
        "append.parquet_dir": d("parquet"), "append.csv_dir": d("csv"),
        "append.open_dir": d("open"), "append.warm_dir": d("warm"),
        "append.warm_csv_dir": d("warm_csv"),
        "append.backlog_rows": s["backlog_files"] * s["rows_per_file"],
        "append.max_files_per_trigger": s["max_files_per_trigger"],
        "append.open_rate_per_s": s["open_rate_per_s"],
        "append.open_min_files": s["open_min_files"],
        "append.open_trigger_ms": s["open_trigger_ms"],
    }


def merge_rows(rng, keys, seq0, op):
    n = len(keys)
    return {"key": keys.astype(np.int64), "region": [f"r{k % 4}" for k in keys],
            "amount": np.round(rng.gamma(2.0, 50.0, n), 2),
            "note": [f"n{x}" for x in rng.integers(0, 10**6, n)],
            "seq": np.arange(seq0, seq0 + n, dtype=np.int64), "op": [op] * n}


def gen_ingest_merge(rng, out, s):
    d = lambda *p: os.path.join(out, "merge", *p)
    os.makedirs(d("changes"), exist_ok=True)
    k = s["base_keys"]
    base = merge_rows(rng, np.arange(k), 0, "I")
    base["seq"] = np.zeros(k, dtype=np.int64)  # every change is newer than the base
    del base["op"]
    pq.write_table(pa.table(base), d("base.parquet"))
    next_key, seq, total, changed = k, 1, 0, 0
    rows = s["rows_per_change_file"]
    for i in range(s["change_files"]):
        n_ins = int(rows * s["insert_share"])
        n_del = int(rows * s["delete_share"])
        n_upd = rows - n_ins - n_del
        # Zipf-skewed recency: rank 1 is the newest key
        def recent(n):
            ranks = np.minimum(rng.zipf(s["zipf_s"], n), s["recent_window"])
            return np.maximum(next_key - ranks, 0)
        parts = [merge_rows(rng, recent(n_upd), 0, "U"),
                 merge_rows(rng, np.arange(next_key, next_key + n_ins), 0, "I"),
                 merge_rows(rng, recent(n_del), 0, "D")]
        next_key += n_ins
        cols = {c: np.concatenate([np.asarray(p[c]) for p in parts]) for c in parts[0]}
        n = len(cols["key"])
        dup = rng.choice(n, int(n * s["duplicate_share"]), replace=False)
        cols = {c: np.concatenate([v, v[dup]]) for c, v in cols.items()}
        order = rng.permutation(len(cols["key"]))
        cols = {c: v[order] for c, v in cols.items()}
        cols["amount"] = np.round(rng.gamma(2.0, 50.0, len(order)), 2)
        cols["seq"] = np.arange(seq, seq + len(order), dtype=np.int64)
        seq += len(order)
        total += len(order)
        changed += len(np.unique(cols["key"]))
        t = pa.table({"key": cols["key"].astype(np.int64),
                      "region": pa.array(cols["region"].tolist(), pa.string()),
                      "amount": cols["amount"], "note": pa.array(cols["note"].tolist(), pa.string()),
                      "seq": cols["seq"], "op": pa.array(cols["op"].tolist(), pa.string())})
        pq.write_table(t, d("changes", f"part-{i:05d}.parquet"))
        landed(d("changes", f"part-{i:05d}.parquet"), i)
    # warm-up feed: one small change file of the same shape
    os.makedirs(d("warm"), exist_ok=True)
    warm = merge_rows(rng, np.arange(0, 50), seq, "U")
    pq.write_table(pa.table({c: pa.array(list(v)) if c in ("region", "note", "op") else v
                             for c, v in warm.items()}), d("warm", "part-00000.parquet"))
    return {"merge.base": d("base.parquet"), "merge.changes_dir": d("changes"),
            "merge.warm_dir": d("warm"),
            "merge.change_rows": total, "merge.changed_rows": changed,
            "merge.compact_every": s["compact_every"]}


GENERATORS = {"ingest_append": gen_ingest_append, "ingest_merge": gen_ingest_merge}


def generate(workload, seed, out, seconds, smoke=False):
    if workload not in GENERATORS:
        raise SystemExit(f"unknown workload {workload}; one of {sorted(GENERATORS)}")
    rng = np.random.default_rng(seed)
    out = os.path.abspath(out)
    os.makedirs(out, exist_ok=True)
    s = sizes(workload, smoke, seconds)
    params = GENERATORS[workload](rng, out, s)
    with open(os.path.join(out, "params.properties"), "w") as f:
        for k, v in params.items():
            f.write(f"{k}={v}\n")
    return s


if __name__ == "__main__":
    if len(sys.argv) < 5:
        raise SystemExit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[4], float(sys.argv[3]), "--smoke" in sys.argv)
