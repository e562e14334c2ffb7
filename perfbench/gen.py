"""Seeded input generators. The library only ever sees the files written here.

`events` mirrors the catalog's `events` fixture (schema, 30 days from
2024-01-01, uniform users and event types, 2-decimal values, strictly
increasing microsecond timestamps). `core` is a larger keyed event stream,
split by event time into one parquet file per streaming micro-batch, whose
values are multiples of 1/4 so that every double sum is exact in any order.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAYS = 30
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def _stream(rng, n, keys):
    span = DAYS * 86400 * 1_000_000
    # n distinct offsets in [0, span), sorted: strictly increasing ts, so no
    # two events share a timestamp and every as-of / ordering is unambiguous
    offs = np.sort(rng.choice(span, size=n, replace=False))
    ts = (START_US + offs).astype("datetime64[us]")
    user = rng.integers(0, keys, size=n, dtype=np.int64)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)]
    return ts, user, etype


def _table(ts, user, etype, value, extra=None):
    cols = {
        "event_id": pa.array(np.arange(len(ts), dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user),
        "event_type": pa.array(etype),
        "value": pa.array(value),
    }
    cols.update(extra or {})
    return pa.table(cols)


def events(seed, out_dir, n=100_000, users=1_500):
    """Catalog-shaped `events.parquet` in `out_dir`."""
    rng = np.random.default_rng([seed, 1])
    ts, user, etype = _stream(rng, n, users)
    value = np.round(rng.exponential(60.0, size=n), 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, size=n).astype(str)), "}")
    t = _table(ts, user, etype, value, {"props": pa.array(props)})
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(t, os.path.join(out_dir, "events.parquet"))
    return n


def core(seed, out_dir, n, keys, files):
    """`events.parquet/part-NNNNN.parquet`: one file per micro-batch, in
    event-time order."""
    rng = np.random.default_rng([seed, 2])
    ts, user, etype = _stream(rng, n, keys)
    value = rng.integers(0, 1000, size=n) / 4.0
    t = _table(ts, user, etype, value)
    d = os.path.join(out_dir, "events.parquet")
    os.makedirs(d, exist_ok=True)
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        pq.write_table(t.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(d, f"part-{i:05d}.parquet"))
    return n
