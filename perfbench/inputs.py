"""Seeded input generators for the workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical frames and files, another seed gives different ones. The
package under test only ever sees what these functions produce.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# bandit_loop shape: MovieLens u.data at reference scale.
RATINGS = 100_000
USERS = 943
ITEMS = 1682
RANK_K = 20
NUM_ACTIONS = 20
SPINE_ROWS = 500
LOOKUPS = 6
KEYS_PER_LOOKUP = 10
CYCLES = 1
PREDICT_ROWS = 256
SLOTS_PER_MESSAGE = 8
REDELIVERED_SHARE = 0.25
# Point-in-time spine rows sit after any wall-clock import time.
SPINE_BASE_TIME = pd.Timestamp("2100-01-01")

ROW_GROUPS = 8


def _rng(seed: int, stream: str) -> np.random.Generator:
    # One independent stream per input so adding an input never shifts another.
    return np.random.default_rng([seed, *stream.encode()])


def zipf_keys(rng: np.random.Generator, n_keys: int, size: int, s: float = 1.1) -> np.ndarray:
    """Zipf-skewed draws over a seeded permutation of ``range(n_keys)``."""
    weights = 1.0 / np.arange(1, n_keys + 1) ** s
    ranks = rng.choice(n_keys, size=size, p=weights / weights.sum())
    return rng.permutation(n_keys)[ranks]


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    """Timestamps are written as UTC instants, which Spark reads as TIMESTAMP."""
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    table = table.cast(
        pa.schema(
            [pa.field(f.name, pa.timestamp("us", tz="UTC")) if pa.types.is_timestamp(f.type) else f for f in table.schema]
        )
    )
    pq.write_table(table, path, row_group_size=max(1, -(-len(pdf) // ROW_GROUPS)))


# ---------------------------------------------------------------------------
# bandit_loop
# ---------------------------------------------------------------------------


def ratings_tsv(seed: int) -> bytes:
    """MovieLens-shaped ``u.data``: user, item, rating, unix time; every user
    has at least 20 ratings, ratings skew toward 3-4."""
    rng = _rng(seed, "ratings")
    base = np.repeat(np.arange(1, USERS + 1), 20)
    users = np.concatenate([base, rng.integers(1, USERS + 1, RATINGS - len(base))])
    users = rng.permutation(users)
    items = rng.integers(1, ITEMS + 1, RATINGS)
    stars = rng.choice(np.arange(1, 6), RATINGS, p=[0.06, 0.11, 0.27, 0.34, 0.22])
    times = rng.integers(874_724_710, 893_286_638, RATINGS)
    lines = (f"{u}\t{i}\t{r}\t{t}\n" for u, i, r, t in zip(users, items, stars, times))
    return "".join(lines).encode()


def bandit_inputs(seed: int) -> dict:
    """A training spine and Zipf-skewed online lookups over the user
    entities, per-cycle user vectors to score, the item-factor table the log
    loop rewards against, and which messages each cycle redelivers."""
    rng = _rng(seed, "bandit")
    spine = pd.DataFrame(
        {
            "user_id": rng.choice(np.arange(1, USERS + 1), SPINE_ROWS, replace=False).astype(str),
            "ts": SPINE_BASE_TIME + pd.to_timedelta(rng.integers(0, 86_400, SPINE_ROWS), unit="s"),
        }
    )
    lookups = [[int(k) + 1 for k in zipf_keys(rng, USERS, KEYS_PER_LOOKUP)] for _ in range(LOOKUPS)]
    item_factors = pd.DataFrame(
        {
            "item_id": np.arange(NUM_ACTIONS, dtype=np.int64),
            "features": list(np.round(rng.normal(0, 0.3, (NUM_ACTIONS, RANK_K)), 6)),
        }
    )
    cycles = []
    n_msgs = PREDICT_ROWS // SLOTS_PER_MESSAGE
    for _ in range(CYCLES):
        obs = np.round(rng.normal(0, 0.5, (PREDICT_ROWS, RANK_K)), 6)
        redeliver = np.flatnonzero(rng.random(n_msgs) < REDELIVERED_SHARE)
        cycles.append({"obs": pd.DataFrame({"obs": list(obs)}), "redeliver": [int(i) for i in redeliver]})
    return {"spine": spine, "lookups": lookups, "item_factors": item_factors, "cycles": cycles}


# ---------------------------------------------------------------------------
# query_mix: the sf0.01 fixture tables, rows permuted by the seed
# ---------------------------------------------------------------------------

# Copies of the sf0.01 tables the differential gate runs on (TESTDATA.md),
# kept beside the benchmark so a checkout holds its inputs.
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")


def write_tables(seed: int, out_dir: str) -> None:
    """Each fixture table with its rows in a seeded order, split into
    ROW_GROUPS row groups so a scan can parallelise. The rows, and so every
    query's answer, are the fixture's; only their order and layout change."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "tables")
    for name in TABLES:
        table = pq.read_table(os.path.join(FIXTURES, f"{name}.parquet"))
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, -(-table.num_rows // ROW_GROUPS))
        )
