"""Seeded benchmark inputs.

The broadcast dimensions are the fixed tables ``datagen`` writes for every
scale; the transcripts are drawn from the benchmark's own seed with the same
scenario mix (``datagen._conv_assignments``), so a seed fixes the input
exactly and the row count is the same for every seed of a workload.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fluent_plugin_kubernetes_metadata_filter_spark import datagen

# Input rows per workload, the same for every seed, so that the output's
# bytes and files move only with the seed's scenario mix. At 40,000 rows
# batch_routed's route exchange sits where AQE's coalescing flips between
# two write layouts from seed to seed; 60,000 is clear of it. A
# resume_after_crash run writes every sink in its cold pass and needs the
# smaller input to stay within its time.
ROWS = {"batch_routed": 60_000, "long_turns": 6_000, "resume_after_crash": 40_000}

# long_turns: agent-style tool output, 1-4 KB per turn
LONG_TEXT_BYTES = (1024, 4096)

_VOCAB = np.array(
    "error warning info debug trace request response status ok failed retry "
    "timeout connect socket stream batch token tensor shard replica commit "
    "rollback schema column partition bucket offset cursor handle buffer "
    "cache miss hit evict flush sync async await yield return raise import "
    "class def self none true false null list dict map set tuple int str".split()
)


def _transcript_columns(rng: np.random.RandomState, rows: int):
    """The dimension rows, and per turn its conversation index, turn index
    and tool tag, for exactly ``rows`` turns with datagen's scenario mix and
    turn-count distribution."""
    ns_rows, missing_ns = datagen._namespaces()
    pod_rows = datagen._pods(ns_rows, missing_ns)
    # draw enough conversations, then cut at ``rows`` turns
    n_convs = rows // 20 + 50
    assign = datagen._conv_assignments(n_convs, ns_rows, pod_rows, missing_ns, rng)
    turns = rng.randint(5, 61, size=n_convs)
    hot = np.array([s == "hot" for s, _ in assign])
    turns[hot] = rng.randint(120, 321, size=int(hot.sum()))
    ends = np.cumsum(turns)
    last = int(np.searchsorted(ends, rows))
    if last >= n_convs:
        raise ValueError("not enough conversations drawn for the row target")
    turns = turns[: last + 1].copy()
    turns[last] -= int(ends[last] - rows)
    conv_idx = np.repeat(np.arange(last + 1), turns)
    turn_idx = np.concatenate([np.arange(n) for n in turns]).astype(np.int32)
    tags = np.array([t for _, t in assign[: last + 1]], dtype=object)
    tool = tags[conv_idx].copy()
    tool[rng.random_sample(rows) < 0.08] = ""
    return ns_rows, pod_rows, conv_idx, turn_idx, tool


def _short_text(rng, conv_ids, conv_idx, turn_idx):
    words = datagen._WORDS[rng.randint(0, len(datagen._WORDS), size=(len(conv_idx), 6))]
    return [f"turn {t} of {conv_ids[c]}: " + " ".join(w)
            for t, c, w in zip(turn_idx, conv_idx, words)]


def _long_text(rng, conv_ids, conv_idx, turn_idx):
    # one seeded corpus of tool-output lines; each turn is a slice of it
    n_lines = 20_000
    words = _VOCAB[rng.randint(0, len(_VOCAB), size=(n_lines, 8))]
    nums = rng.randint(0, 1 << 30, size=n_lines)
    corpus = "".join(f"{n:08x} " + " ".join(w) + "\n" for n, w in zip(nums, words))
    lo, hi = LONG_TEXT_BYTES
    lens = rng.randint(lo, hi + 1, size=len(conv_idx))
    offs = rng.randint(0, len(corpus) - hi, size=len(conv_idx))
    return [f"turn {t} of {conv_ids[c]}: " + corpus[o: o + n]
            for t, c, o, n in zip(turn_idx, conv_idx, offs, lens)]


def make_inputs(out_dir: str, workload: str, seed: int, rows: int | None = None) -> dict:
    """Write transcripts (``ROWS[workload]`` of them unless ``rows`` is
    given) and dimensions for one workload and seed into ``out_dir``;
    return their paths and the input row count."""
    rows = rows or ROWS[workload]
    rng = np.random.RandomState(seed)
    ns_rows, pod_rows, conv_idx, turn_idx, tool = _transcript_columns(rng, rows)
    conv_ids = np.array([f"conv-{i:06d}" for i in range(int(conv_idx[-1]) + 1)])
    make_text = _long_text if workload == "long_turns" else _short_text
    text = make_text(rng, conv_ids, conv_idx, turn_idx)
    roles = np.array(datagen.ROLES, dtype=object)[rng.randint(0, 4, size=rows)]
    start = rng.randint(0, 10 * 86400, size=len(conv_ids))
    ts_sec = start[conv_idx] + turn_idx.astype(np.int64) * 7
    epoch = np.datetime64(datagen.EPOCH.replace(tzinfo=None))
    ts = (epoch + ts_sec.astype("timedelta64[s]")).astype("datetime64[us]")
    table = pa.table({
        "conv_id": pa.array(conv_ids[conv_idx], pa.string()),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(roles, pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tool, pa.string()),
        "ts": pa.array(ts, pa.timestamp("us")),
    })
    os.makedirs(out_dir, exist_ok=True)
    # row groups small enough that the scan splits across every core
    pq.write_table(table, os.path.join(out_dir, "transcripts.parquet"),
                   row_group_size=max(1024, rows // 16))
    datagen._write_dims(out_dir, ns_rows, pod_rows)
    return {
        "dir": out_dir,
        "rows": rows,
        "transcripts": os.path.join(out_dir, "transcripts.parquet"),
        "pods": os.path.join(out_dir, "pods_dim.parquet"),
        "namespaces": os.path.join(out_dir, "namespaces_dim.parquet"),
    }


def oracle_route_counts(in_dir: str) -> dict[str, int]:
    """Rows per sink from the DuckDB oracle over the same input files."""
    import duckdb

    from fluent_plugin_kubernetes_metadata_filter_spark.oracle import oracle_queries

    sql = oracle_queries(in_dir)["route_counts"]
    with duckdb.connect() as con:
        return {sink: int(n) for sink, n in con.execute(sql).fetchall()}
