"""Seeded, vectorized transcript generator for the product-path benchmark.

The program under test only ever sees the parquet files written here.
Every draw comes from one ``numpy.random.Generator`` seeded by the
caller, and numpy/pyarrow build the table column-wise (no per-row
Python), so one seed gives byte-identical files and another seed
gives different ones (``test_gen.py`` pins both).

Timestamps are written at microsecond precision
(``coerce_timestamps="us"``): Spark 4.1 rejects nanosecond parquet.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_EPOCH = 1767225600  # 2026-01-01T00:00:00Z
ROLES = np.array(["user", "assistant", "tool", "system"])
TOOLS = np.array(["search", "code", "browse", "bash", "fetch"])


@dataclass(frozen=True)
class GenSpec:
    """Knobs of one generated transcript table.

    n_convs          conversations (the hot one included).
    turns_mean       mean turns per ordinary conversation; the counts
                     follow a geometric distribution (>= 1), so most
                     conversations are short.
    tokens_mean      mean tokens per turn (Poisson).
    vocab_size       distinct tokens of the Zipf vocabulary.
    zipf_s           Zipf exponent of token frequencies.
    oov_share        share of tokens drawn from a pool of one-off
                     tokens; they fall outside any capped vocabulary.
    gap_window_ratio mean inter-turn gap as a multiple of the window
                     (exponential): > 1 gives sparse timelines, << 1
                     dense ones with many members per window.
    hot_share        share of all rows held by conversation 0.
    window_s         the feature window the gaps are relative to.
    n_files          parquet files the table is split into.
    """

    n_convs: int
    turns_mean: float
    tokens_mean: float
    vocab_size: int
    zipf_s: float
    oov_share: float
    gap_window_ratio: float
    hot_share: float
    window_s: int = 300
    n_files: int = 4


def _texts(rng: np.random.Generator, spec: GenSpec, n: int) -> pa.Array:
    ntok = rng.poisson(spec.tokens_mean, n)
    total = int(ntok.sum())
    ranks = np.arange(1, spec.vocab_size + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -spec.zipf_s)
    ids = np.searchsorted(cdf, rng.random(total) * cdf[-1])
    toks = np.char.add("w", ids.astype(str)).astype("U16")
    oov = rng.random(total) < spec.oov_share
    if oov.any():
        rare = rng.integers(0, 10**12, int(oov.sum()))
        toks[oov] = np.char.add("zq", rare.astype(str))
    offsets = np.concatenate([[0], np.cumsum(ntok)]).astype(np.int32)
    lists = pa.ListArray.from_arrays(pa.array(offsets), pa.array(toks))
    return pc.binary_join(lists, " ")


def _turns(
    rng: np.random.Generator,
    spec: GenSpec,
    conv: np.ndarray,
    turn: np.ndarray,
    ts_us: np.ndarray,
) -> pa.Table:
    n = len(conv)
    tool_idx = rng.integers(0, len(TOOLS) + 1, n)
    tools = pa.array(
        TOOLS[np.minimum(tool_idx, len(TOOLS) - 1)],
        mask=tool_idx == len(TOOLS),  # no tool on 1 turn in 6
    )
    return pa.table(
        {
            "conv_id": pa.array(np.char.add("c", conv.astype(str))),
            "turn_idx": pa.array(turn.astype(np.int32)),
            "role": pa.array(ROLES[rng.integers(0, len(ROLES), n)]),
            "text": _texts(rng, spec, n),
            "tool": tools,
            "duration_ms": pa.array(rng.integers(1, 5000, n)),
            "ts": pa.array(ts_us, type=pa.timestamp("us", tz="UTC")),
        }
    )


def _gaps_us(rng: np.random.Generator, spec: GenSpec, n: int) -> np.ndarray:
    mean_us = spec.gap_window_ratio * spec.window_s * 1e6
    return rng.exponential(mean_us, n).astype(np.int64)


def generate(spec: GenSpec, seed: int) -> pa.Table:
    """The transcript table: conv_id, turn_idx, role, text, tool,
    duration_ms, ts — sorted by (conv_id ordinal, turn_idx)."""
    rng = np.random.default_rng(seed)
    # conversation sizes are the geometric distribution's quantiles in a
    # seeded order, so every seed has the same number of rows
    q = (np.arange(spec.n_convs) + 0.5) / spec.n_convs
    sizes = np.ceil(np.log1p(-q) / np.log1p(-1.0 / spec.turns_mean)).astype(np.int64)
    sizes = np.maximum(sizes, 1)
    sizes[1:] = rng.permutation(sizes[1:])
    if spec.hot_share > 0:
        rest = int(sizes[1:].sum())
        sizes[0] = max(1, round(rest * spec.hot_share / (1 - spec.hot_share)))
    n = int(sizes.sum())
    conv = np.repeat(np.arange(spec.n_convs), sizes)
    first = np.cumsum(sizes) - sizes
    turn = np.arange(n) - np.repeat(first, sizes)
    gaps = _gaps_us(rng, spec, n)
    # each conversation starts somewhere in a 14-day span; the gap of its
    # first turn is replaced by that start
    gaps[first] = rng.integers(0, 14 * 86400, spec.n_convs) * 1_000_000
    run = np.cumsum(gaps)
    base = np.repeat(run[first] - gaps[first], sizes)
    ts_us = BASE_EPOCH * 1_000_000 + (run - base)
    return _turns(rng, spec, conv, turn, ts_us)


def delta_batches(
    table: pa.Table,
    spec: GenSpec,
    seed: int,
    touch_share: float,
    n_batches: int,
    turns_per_conv: int,
) -> list[pa.Table]:
    """Late turns for ``touch_share`` of the conversations, picked
    uniformly: each picked conversation gets ``turns_per_conv`` new turns
    after its last one, and lands in exactly one of ``n_batches``."""
    rng = np.random.default_rng([seed, 1])
    conv_ids = table.column("conv_id").to_numpy(zero_copy_only=False)
    ts_us = table.column("ts").cast(pa.int64()).to_numpy()
    turn = table.column("turn_idx").to_numpy()
    # generate() emits conversation k as the k-th run of rows
    last = np.flatnonzero(np.r_[conv_ids[1:] != conv_ids[:-1], True])
    n_touch = max(n_batches, round(spec.n_convs * touch_share))
    picked = np.sort(rng.choice(spec.n_convs, n_touch, replace=False))
    batches = []
    for part in np.array_split(picked, n_batches):
        conv = np.repeat(part, turns_per_conv)
        step = np.tile(np.arange(1, turns_per_conv + 1), len(part))
        gaps = _gaps_us(rng, spec, len(conv)).reshape(len(part), -1)
        ts = np.repeat(ts_us[last[part]], turns_per_conv) + np.cumsum(
            gaps + 1_000_000, axis=1
        ).ravel()
        batches.append(
            _turns(rng, spec, conv, np.repeat(turn[last[part]], turns_per_conv) + step, ts)
        )
    return batches


def anchor_count(tables: list[pa.Table]) -> int:
    """Distinct (conv_id, ts epoch second) pairs — the number of rows
    the feature table must have."""
    t = pa.concat_tables(tables)
    sec = np.floor_divide(t.column("ts").cast(pa.int64()).to_numpy(), 1_000_000)
    keys = pa.table({"c": t.column("conv_id"), "s": pa.array(sec)})
    return keys.group_by(["c", "s"]).aggregate([]).num_rows


def write_files(table: pa.Table, out_dir: str, n_files: int) -> list[str]:
    """Split ``table`` into ``n_files`` row ranges on conversation
    boundaries; write each as one parquet file."""
    os.makedirs(out_dir, exist_ok=True)
    conv = table.column("conv_id").to_numpy(zero_copy_only=False)
    starts = np.flatnonzero(np.r_[True, conv[1:] != conv[:-1]])
    cuts = [int(starts[i[0]]) for i in np.array_split(np.arange(len(starts)), n_files) if len(i)]
    cuts.append(table.num_rows)
    paths = []
    for i, (a, b) in enumerate(zip(cuts[:-1], cuts[1:])):
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(a, b - a), path, coerce_timestamps="us")
        paths.append(path)
    return paths
