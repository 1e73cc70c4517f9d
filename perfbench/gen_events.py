"""Seeded `events` table for the corpus_queries workload.

The repository's own generator (scripts/gen_scaled_docs.py) writes the
`documents` and `embeddings` tables; it has no `events`. This one mirrors the
distribution of the sf0.1 test table's `events` (100,000 rows), as measured
there:

  ts          uniform over 30 days from 2024-01-01, sorted by event_id
  user_id     uniform over 1,500 users per 100,000 events
  event_type  signup, click, error, view, purchase, uniform (20% each)
  value       Exponential(mean 50), rounded to cents (sf0.1: mean 49.87,
              median 34.77, stddev 49.56, min 0.00)
  props       '{"k": <0..99>}'

Usage: gen_events.py N_EVENTS OUT_DIR SEED. The same seed and size give the
same table.
"""
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
USERS_PER_EVENT = 0.015


def events(rng, n_events):
    offsets_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    n_users = max(15, round(n_events * USERS_PER_EVENT))
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + offsets_us,
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[int(k)] for k in rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_events)]),
    })


def write(out_dir, seed, n_events):
    pq.write_table(events(np.random.default_rng(seed), n_events),
                   f"{out_dir}/events.parquet")


if __name__ == "__main__":
    write(sys.argv[2], int(sys.argv[3]), int(sys.argv[1]))
