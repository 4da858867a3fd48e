"""The benchmark's inputs.

The registry keys read the engine's fixture set: one parquet file per
table, copied unchanged into ``fixtures/sf0.01`` (TPC-H-style tables
plus ``events``, ``documents`` and ``embeddings``; lineitem has 60,000
rows). Those tables never change, so data-dependent loop counts (graph
iterations, dedup rounds) and hence the scheduler counters are the same
for every seed.

A run's ``--seed`` sets the order of operations and the layout of the
CLI jobs' inputs, which :func:`write_etl_inputs` cuts from the fixture
tables.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: the fixture tables every workload reads
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")


def write_etl_inputs(base: str, sf_dir: str, seed: int) -> dict[str, str]:
    """Inputs of the CLI jobs, laid out from ``seed``.

    * ``orders_small``: the orders table split into 200 small parquet
      files in a seed-drawn row order (the compaction input);
    * ``events_split/part-{0,1}.parquet``: the events table sorted by
      event time and cut in half, rows in a seed-drawn order inside each
      part. Cutting by time keeps the second streaming delivery on time:
      it closes the windows the first one left open instead of arriving
      behind the watermark as late data.
    """
    rng = np.random.default_rng(seed)
    paths = {"base": base}
    small = os.path.join(base, "orders_small")
    shutil.rmtree(small, ignore_errors=True)
    os.makedirs(small)
    orders = pq.read_table(os.path.join(sf_dir, "orders.parquet"))
    orders = orders.take(rng.permutation(orders.num_rows))
    for i, idx in enumerate(np.array_split(np.arange(orders.num_rows), 200)):
        pq.write_table(orders.take(idx), os.path.join(small, f"part-{i:05d}.parquet"))
    paths["orders_small"] = small
    split = os.path.join(base, "events_split")
    os.makedirs(split, exist_ok=True)
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    events = events.take(pc.sort_indices(events, [("ts", "ascending"),
                                                  ("event_id", "ascending")]))
    half = events.num_rows // 2
    for i, part in enumerate((events.slice(0, half), events.slice(half))):
        part = part.take(rng.permutation(part.num_rows))
        pq.write_table(part, os.path.join(split, f"part-{i}.parquet"))
    paths["events_split"] = split
    return paths
