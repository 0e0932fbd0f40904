"""Seed-derived benchmark inputs.

The base tables in ``data/`` are the engine's sf0.01 fixture (TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``). Every
input copy is a row-order permutation of some of them, drawn from
``(seed, copy index)`` and written to a directory no earlier copy used:
the engine memoizes derivations per (Spark application, input
directory), so a fresh directory per timed pass keeps work from one
pass out of the next.
"""

from __future__ import annotations

import os
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data"

#: Share of users whose events the streaming workload keeps.
USER_SAMPLE = 0.9


def _rng(seed: int, copy: int) -> np.random.Generator:
    return np.random.default_rng([seed, copy])


def permuted_tables(dest: Path, tables: tuple[str, ...], seed: int, copy: int) -> dict[str, int]:
    """Write a row permutation of each base table to ``dest``; return
    rows per table."""
    rng = _rng(seed, copy)
    dest.mkdir(parents=True)
    rows = {}
    for name in tables:
        t = pq.read_table(DATA / f"{name}.parquet")
        pq.write_table(t.take(rng.permutation(t.num_rows)), dest / f"{name}.parquet")
        rows[name] = t.num_rows
    return rows


def sampled_events(dest: Path, seed: int, copy: int, n_files: int, min_senders: int) -> int:
    """Write ``dest/events.parquet``: the events of a seeded
    ``USER_SAMPLE`` share of users, rows permuted; and the same events
    as ``n_files`` time-ordered replay files in ``dest/replay``, in the
    layout ``streaming.read_events_stream`` reads (``ts`` as int64
    nanoseconds), with ascending modification times so the file source
    replays them in time order. Return the number of events.

    Users who move one exact amount on one day together with at least
    ``min_senders - 1`` others are always kept: the coordination screen
    has only a few such cells, and a sample without them would leave
    its output, and so its check, empty."""
    rng = _rng(seed, copy)
    dest.mkdir(parents=True)
    t = pq.read_table(DATA / "events.parquet")
    ev = pd.DataFrame({
        "user_id": t["user_id"].to_numpy(),
        "cents": (t["value"].to_numpy() * 100).round(),
        "day": t["ts"].to_numpy().astype("datetime64[D]"),
    }).drop_duplicates()
    senders = ev.groupby(["cents", "day"])["user_id"].transform("size")
    ring_users = ev.loc[senders >= min_senders, "user_id"].unique()
    users = np.unique(t["user_id"].to_numpy())
    kept = users[(rng.random(len(users)) < USER_SAMPLE) | np.isin(users, ring_users)]
    t = t.filter(pc.is_in(t["user_id"], value_set=pc.cast(kept, t.schema.field("user_id").type)))
    pq.write_table(t.take(rng.permutation(t.num_rows)), dest / "events.parquet")

    ordered = t.sort_by("ts")
    ts_ns = pc.multiply(ordered["ts"].cast(pa.int64()), 1000)
    ordered = ordered.set_column(ordered.schema.get_field_index("ts"), "ts", ts_ns)
    replay = dest / "replay"
    replay.mkdir()
    chunk = -(-t.num_rows // n_files)
    now = time.time()
    for i in range(n_files):
        f = replay / f"part-{i:05d}.parquet"
        pq.write_table(ordered.slice(i * chunk, chunk), f)
        os.utime(f, (now - n_files + i, now - n_files + i))
    return t.num_rows
