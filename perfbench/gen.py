"""Seeded restaging of the reference tables (the benchmark's ``gen`` layer).

``data/sf0.01`` holds the engine's reference tables at sf0.01, one parquet
file each: the TPC-H-ish star schema (60k lineitem rows), ``events`` (10k
rows over 150 users), ``documents`` (500) and ``embeddings`` (500).  A run
never reads them in place.  :func:`write_dataset` restages every table
under a fresh path with the same rows in a seeded order and a seeded
parquet row-group split, so two seeds give the same data laid out
differently.  The dashboard's writes come from :func:`events_batch`, which
draws whole rows of the reference events table, so the user and
event-type skew of new events is that of the stored ones.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
#: Name of a staged table directory: the engine's scale hint
#: (``functions.fixedpoint``) reads the scale from it.
SF_NAME = os.path.basename(DATA)


def tables() -> list[str]:
    return sorted(n[: -len(".parquet")] for n in os.listdir(DATA)
                  if n.endswith(".parquet"))


def read(name: str) -> pa.Table:
    return pq.read_table(os.path.join(DATA, f"{name}.parquet"))


def write_dataset(out_dir: str, seed: int) -> str:
    """Write every reference table under ``out_dir``: same rows, seeded
    row order, seeded row-group size (a fifth to three fifths of the
    table)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in tables():
        table = read(name)
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        row_group = max(1, int(table.num_rows * rng.uniform(0.2, 0.6)))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=row_group)
    return out_dir


def events_batch(rng: np.random.Generator, events: pa.Table, n: int,
                 first_id: int) -> pa.Table:
    """``n`` rows drawn with replacement from ``events``, renumbered with
    ids from ``first_id``."""
    rows = events.take(pa.array(rng.integers(0, events.num_rows, n)))
    ids = pa.array(np.arange(first_id, first_id + n, dtype=np.int64))
    return rows.set_column(rows.schema.get_field_index("event_id"), "event_id", ids)
