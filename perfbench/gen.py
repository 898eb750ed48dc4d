"""Seeded input generator for the benchmark.

Writes the `events` table that graft's EEG queries read (one parquet file,
shape and value domains as in the repository's TESTDATA tables, row count
1,000,000 × sf) and a drop of raw EEG CSV files in the MindBigData naming
scheme that `csv_ingest` reads. Every value is drawn from
`numpy.random.default_rng(seed)`, so one seed always gives the same bytes.

Usage: python3 gen.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
CHANNELS = ["AF3", "AF4", "T7", "T8", "Pz"]
US_PER_DAY = 86_400_000_000
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01 in µs


def events(out, sf, rng):
    """30 days of events with exponential gaps, 15,000 × sf users."""
    n = max(1, int(1_000_000 * sf))
    gaps = rng.exponential(30 * US_PER_DAY / n, n).astype(np.int64) + 1
    pq.write_table(pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(EPOCH_2024 + np.cumsum(gaps), type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}),
        os.path.join(out, "events.parquet"))


def eeg_csv(out, rng, n_files=12, n_samples=128):
    """Raw EEG drops: one line per channel (`channel,v0,v1,...`), a
    non-whitelisted channel and one empty sample per file, metadata in the
    file name; every file has its own synset."""
    os.makedirs(out, exist_ok=True)
    for f in range(n_files):
        headset = ("EpocX", "Insight")[f % 2]
        name = (f"MindBigData_Imagenet_{headset}_n{10_000_000 + 37 * f + int(rng.integers(0, 37)):08d}"
                f"_{int(rng.integers(1, 50))}_{f % 3}_{40 + f}.csv")
        lines = []
        for ch in CHANNELS + ["CMS"]:
            vals = [f"{v:.2f}" for v in rng.uniform(-100.0, 100.0, n_samples)]
            if ch == "AF4":
                vals[5] = ""
            lines.append(",".join([ch] + vals))
        with open(os.path.join(out, name), "w") as fh:
            fh.write("\n".join(lines) + "\n")


def main(out, sf, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    events(out, sf, rng)
    eeg_csv(os.path.join(out, "eeg_csv"), rng)


if __name__ == "__main__":
    main(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
