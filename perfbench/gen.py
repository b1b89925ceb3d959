"""Seeded input generator for the graft benchmark.

Writes one workload's inputs under an output directory. The same
seed always gives the same files. What the library reads:

  ticks_labels   events.parquet            (the events schema that
                                             TradeData.fromEvents reads)
  stream_labels  stream/part-NNNN.parquet  (the same ticks, one file per
                                             day, in event-time order)

Each workload also gets a small `warm/` copy of the same shape for the
untimed warm-up, and a `truth.json` with the sizes and per-symbol
totals the benchmark's checks compare against.

Usage: python3 gen.py --workload NAME --seed N --out DIR
"""

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. Every one sits below the library's size gates.
TICKS = 30_000
SYMBOLS = 20
DAYS = 60
WARM_TICKS = 600
WARM_SYMBOLS = 3
WARM_DAYS = 2
ZIPF_S = 1.0

DAY_US = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def tick_table(rng, n_ticks, n_symbols, n_days):
    """Zipf-skewed tick counts per symbol, random-walk whole-cent prices,
    strictly increasing timestamps per symbol, event ids in time order."""
    w = 1.0 / np.arange(1, n_symbols + 1) ** ZIPF_S
    counts = np.maximum(100, np.floor(n_ticks * w / w.sum())).astype(np.int64)
    rng.shuffle(counts)
    span = n_days * DAY_US
    syms, tss, cents = [], [], []
    for s, n in enumerate(counts):
        ts = np.sort(rng.integers(0, span - n, size=n)) + np.arange(n)
        steps = rng.choice([-3, -2, -1, 0, 0, 1, 2, 3], size=n)
        px = int(rng.integers(5_000, 20_000)) + np.cumsum(steps)
        px = np.abs(px - 500) + 500  # reflect at $5.00; whole cents, never 0
        syms.append(np.full(n, s, dtype=np.int32))
        tss.append(ts)
        cents.append(px)
    sym = np.concatenate(syms)
    ts = np.concatenate(tss)
    px = np.concatenate(cents)
    order = np.lexsort((sym, ts))
    sym, ts, px = sym[order], ts[order], px[order]
    n = len(ts)
    event_id = np.arange(n, dtype=np.int64)
    names = np.array([f"SYM{i:02d}" for i in range(n_symbols)])
    table = pa.table({
        "event_id": event_id,
        "ts": pa.array(EPOCH_2024_US + ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, 1000, size=n).astype(np.int64),
        "event_type": pa.array(names[sym]),
        "value": px.astype(np.float64) / 100.0,
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })
    sizes = event_id % 97 + 1
    vol = {names[s]: int(sizes[sym == s].sum()) for s in range(n_symbols)}
    cnt = {names[s]: int((sym == s).sum()) for s in range(n_symbols)}
    return table, ts, vol, cnt


def write_ticks(out, rng, n_ticks, n_symbols, n_days, stream):
    """events.parquet, or with `stream` the same ticks as one file per
    day under stream/; returns the truth record."""
    table, ts, vol, cnt = tick_table(rng, n_ticks, n_symbols, n_days)
    paths = []
    if stream:
        sdir = os.path.join(out, "stream")
        os.makedirs(sdir)
        day = ts // DAY_US
        base_mtime = 1_700_000_000
        for d in range(n_days):
            lo, hi = np.searchsorted(day, [d, d + 1])
            paths.append(os.path.join(sdir, f"part-{d:04d}.parquet"))
            pq.write_table(table.slice(lo, hi - lo), paths[-1])
            # the file source lists files in modification-time order
            os.utime(paths[-1], (base_mtime + d, base_mtime + d))
    else:
        paths.append(os.path.join(out, "events.parquet"))
        pq.write_table(table, paths[-1])
    return {"ticks": table.num_rows, "symbols": n_symbols, "days": n_days,
            "volume_by_symbol": vol, "ticks_by_symbol": cnt,
            "input_bytes": sum(os.path.getsize(p) for p in paths)}


def generate(workload, seed, out):
    rng = np.random.default_rng([seed, {"ticks_labels": 1, "stream_labels": 3}[workload]])
    for sub, small in (("", False), ("warm", True)):
        d = os.path.join(out, sub)
        os.makedirs(d, exist_ok=True)
        info = write_ticks(d, rng, WARM_TICKS if small else TICKS, WARM_SYMBOLS if small else SYMBOLS,
                           WARM_DAYS if small else DAYS, workload == "stream_labels")
        with open(os.path.join(d, "truth.json"), "w") as f:
            json.dump(info, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ticks_labels", "stream_labels"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
