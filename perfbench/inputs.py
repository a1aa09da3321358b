"""Seeded inputs of every workload.

The base lake is graft.GenData's output at sf1. A seed varies it by
dropping a seeded share of rows from each fact table (by a hash of the
row's key, so the choice does not depend on file layout), draws the
analyst call sequence, and fills each trigger of the release path's
streaming twin. The same seed
gives byte-identical inputs; `input_hash` fingerprints them.
"""
import hashlib
import json
import random
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The analyst query surface: per-app stats, daily trends, filters, search,
# percentiles, z-score monitors, plus the bounded-heap top-k twin so the
# TopK module is on the call path.
ANALYST_QUERIES = [
    "q_filter_query", "q_filter_page", "q_search_text", "q_key_stats",
    "q_daily_stats", "q_bucket_distribution", "q_bucket_by_key",
    "q_join_enrich", "q_topk_per_group", "q_global_stats",
    "q_length_percentiles", "q_moments", "q_profile_completeness",
    "q_ingest_metrics", "q_run_deltas", "q_anomaly_zscore", "q_topk_native",
]

# table -> key column hashed to choose the rows a seed keeps; tables
# absent here are copied unchanged.
KEYS = {"documents": "doc_id", "events": "event_id", "orders": "o_orderkey",
        "customer": "c_custkey"}

# Workload -> (tables of its lake, share of each fact table's rows kept).
LAKES = {
    "release_cold": (["documents"], 0.1),
    "analyst_mix": (["events", "documents", "orders", "customer", "nation",
                     "region"], 0.05),
}

STREAM_EPOCH_MS = 1704067200000  # 2024-01-01T00:00:00Z
STREAM_SPACING_MS = 60000


def _mix(keys: np.ndarray, seed: int) -> np.ndarray:
    """splitmix64 of (key, seed): a uniform 64-bit hash per row."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15) * np.uint64(seed + 1)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _keep(keys: np.ndarray, seed: int, share: float) -> np.ndarray:
    return (_mix(keys, seed) % np.uint64(1 << 20)) < np.uint64(int(share * (1 << 20)))


def _write_like(table: pa.Table, base_file: Path, dest: Path):
    """Write with the base file's rows-per-row-group, so scan splits
    (one task per row group) scale the way the base lake's do."""
    meta = pq.ParquetFile(base_file).metadata
    per_group = max(1, -(-meta.num_rows // max(1, meta.num_row_groups)))
    pq.write_table(table, dest, row_group_size=per_group)


def make_lake(base: Path, dest: Path, workload: str, seed: int):
    """Write the workload's seeded lake into `dest`; return its hash and
    the row count of each table."""
    tables, share = LAKES[workload]
    dest.mkdir(parents=True, exist_ok=True)
    h = hashlib.sha256(f"{workload}:{seed}:{share}".encode())
    rows = {}
    for name in tables:
        src = base / f"{name}.parquet"
        t = pq.read_table(src)
        if name in KEYS and share < 1.0:
            keys = t.column(KEYS[name]).to_numpy()
            t = t.filter(pa.array(_keep(keys, seed, share)))
        _write_like(t, src, dest / f"{name}.parquet")
        rows[name] = t.num_rows
        h.update(name.encode())
        h.update(str(t.num_rows).encode())
        if name in KEYS:
            h.update(np.ascontiguousarray(t.column(KEYS[name]).to_numpy()).tobytes())
    return h.hexdigest(), rows


def analyst_calls(seed: int, rounds: int) -> list:
    """Whole rounds, each a seeded permutation of every query once, so
    every seed runs the same mix in a different order."""
    rng = random.Random(seed)
    calls = []
    for _ in range(rounds):
        r = list(ANALYST_QUERIES)
        rng.shuffle(r)
        calls += r
    return calls


def make_feed(lake: Path, dest: Path, seed: int, trigger_docs: int,
              triggers: int) -> str:
    """Trigger contents: the lake's documents in a seeded order, renumbered
    with monotonic ids and event times one minute apart (the keyed stores'
    pruning regime). Returns the feed's hash."""
    docs = pq.read_table(lake / "documents.parquet", columns=["doc_id", "text"])
    order = np.argsort(_mix(docs.column("doc_id").to_numpy(), seed), kind="stable")
    n = min(len(order), trigger_docs * triggers)
    texts = docs.column("text").take(pa.array(order[:n]))
    ids = np.arange(n, dtype=np.int64)
    feed = pa.table({
        "trigger": pa.array(ids // trigger_docs, pa.int32()),
        "doc_id": pa.array(ids),
        "ts_ms": pa.array(STREAM_EPOCH_MS + ids * STREAM_SPACING_MS),
        "text": texts,
    })
    pq.write_table(feed, dest)
    h = hashlib.sha256(f"feed:{seed}:{trigger_docs}".encode())
    for t in texts.to_pylist():
        h.update(b"\0" if t is None else t.encode())
    return h.hexdigest()


def input_hash(parts) -> str:
    return hashlib.sha256(json.dumps(parts, sort_keys=True).encode()).hexdigest()
