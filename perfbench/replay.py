"""Writes the stream_replay input: key-shifted copies of the events table
in arrival order, cut into parquet files.

Each copy shifts event_id and user_id by a fixed stride and keeps the
timestamps. Every (copy, user) gets one seeded delay below MAX_DELAY_S, and
an event arrives at its event time plus that delay. Because the delay is
below the smallest watermark of the replayed families (60 s), no event
reaches a stateful operator behind its watermark; because it is constant per
user, each user's events arrive in event-time order, which the keyed
transition state needs to match its batch twin.
"""
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

MAX_DELAY_S = 50
STRIDE = 100_000_000
FILES_PER_TRIGGER = 2
# (first copy, copies, files) per phase
PHASES = {"warm": (0, 1, 2), "drain": (1, 3, 8), "open": (4, 1, 6)}


def _replay(events, first, copies, rng):
    n_users = int(pc.max(events["user_id"]).as_py()) + 1
    ts_us = events["ts"].cast(pa.int64()).to_numpy()
    parts = []
    for k in range(first, first + copies):
        delay_us = rng.integers(0, MAX_DELAY_S * 1_000_000, n_users)
        users = events["user_id"].to_numpy()
        arrival = ts_us + delay_us[users]
        shifted = pa.table({
            "event_id": pc.add(events["event_id"], k * STRIDE),
            "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            "user_id": pc.add(events["user_id"], k * STRIDE),
            "event_type": events["event_type"],
            "value": events["value"],
            "arrival": arrival,
        })
        parts.append(shifted)
    t = pa.concat_tables(parts)
    return t.sort_by([("arrival", "ascending"), ("event_id", "ascending")]).drop(["arrival"])


def prepare(data_dir, out_dir, seed):
    events = pq.read_table(os.path.join(data_dir, "events.parquet"),
                           columns=["event_id", "ts", "user_id", "event_type", "value"])
    rng = np.random.default_rng(seed)
    for phase, (first, copies, files) in PHASES.items():
        t = _replay(events, first, copies, rng)
        d = os.path.join(out_dir, phase, "events.parquet")
        os.makedirs(d)
        bounds = np.linspace(0, t.num_rows, files + 1).astype(int)
        # The file source reads files in modification-time order, at
        # millisecond resolution: two files written within one millisecond
        # would tie and be read in directory order. Stamp them one second
        # apart, in arrival order.
        stamp = int(time.time()) - files
        for i in range(files):
            f = os.path.join(d, f"part-{i:05d}.parquet")
            pq.write_table(t.slice(bounds[i], bounds[i + 1] - bounds[i]), f)
            os.utime(f, (stamp + i, stamp + i))
