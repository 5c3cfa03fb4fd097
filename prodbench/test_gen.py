"""The generator is a pure function of its seed: one seed gives
byte-identical files, two seeds give different ones.

    python3 -m pytest prodbench/test_gen.py -q
"""

import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from gen import anchor_count, delta_batches, generate, write_files  # noqa: E402
from workloads import DELTA_BATCHES, DELTA_TURNS, TOUCH_SHARE, WORKLOADS  # noqa: E402


def _files(tmp_path, name: str, seed: int) -> dict[str, bytes]:
    spec = WORKLOADS[name].spec
    base = generate(spec, seed)
    out = tmp_path / f"{name}-{seed}-{len(list(tmp_path.iterdir()))}"
    paths = write_files(base, str(out / "base"), spec.n_files)
    deltas = delta_batches(base, spec, seed, TOUCH_SHARE, DELTA_BATCHES, DELTA_TURNS)
    for i, d in enumerate(deltas):
        paths += write_files(d, str(out / f"delta{i}"), 1)
    return {os.path.relpath(p, out): open(p, "rb").read() for p in paths}


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_bytes(tmp_path, name):
    assert _files(tmp_path, name, 7) == _files(tmp_path, name, 7)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_other_seed_other_bytes(tmp_path, name):
    a, b = _files(tmp_path, name, 7), _files(tmp_path, name, 8)
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


def test_shape_follows_spec(tmp_path):
    spec = WORKLOADS["skewed_resumable_build"].spec
    t = generate(spec, 3)
    conv = t.column("conv_id").to_pylist()
    hot = conv.count("c0") / len(conv)
    assert abs(hot - spec.hot_share) < 0.02
    assert len(set(conv)) == spec.n_convs
    ts = t.column("ts")
    assert ts.type.unit == "us"
    path = write_files(t, str(tmp_path), 1)[0]
    assert pq.read_schema(path).field("ts").type.unit == "us"
    assert 0 < anchor_count([t]) <= t.num_rows


def test_deltas_follow_their_conversations():
    spec = WORKLOADS["append_refresh"].spec
    base = generate(spec, 5)
    deltas = delta_batches(base, spec, 5, TOUCH_SHARE, DELTA_BATCHES, DELTA_TURNS)
    assert len(deltas) == DELTA_BATCHES
    last = {}
    for c, i, ts in zip(*(base.column(k).to_pylist() for k in ("conv_id", "turn_idx", "ts"))):
        last[c] = (i, ts)
    touched = [c for d in deltas for c in d.column("conv_id").to_pylist()]
    assert len(set(touched)) == round(spec.n_convs * TOUCH_SHARE)
    assert len(touched) == len(set(touched)) * DELTA_TURNS
    for d in deltas:
        for c, i, ts in zip(*(d.column(k).to_pylist() for k in ("conv_id", "turn_idx", "ts"))):
            assert i > last[c][0] and ts > last[c][1]
