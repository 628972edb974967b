"""Vectorized sweep parity: at EVERY offset of a fixture window, the
prescreen+confirm verdicts and the 19-flag vectors must equal the scalar
checkers exactly — this is what licenses running the driver's
bam_check_confusion at stride=1."""

from __future__ import annotations

import numpy as np
import pytest

from spark_bam_spark.bam import bgzf
from spark_bam_spark.bam.checker import (
    FLAG_NAMES,
    check_record_start,
    check_record_start_upstream,
    record_flags,
)
from spark_bam_spark.bam.header import parse_header
from spark_bam_spark.bam.vectorcheck import full_flags, ranges_concat, sweep_calls
from spark_bam_spark.bam.writer import make_fixture


@pytest.fixture(scope="module")
def fx(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("vc") / "sweep.bam")
    res = make_fixture(path, n=120, block_payload=2048)
    with open(path, "rb") as f:
        hdr = parse_header(f)
    with open(path, "rb") as f:
        flat = b"".join(data for _, data in bgzf.block_stream(f))
    return res, hdr, flat


def test_sweep_calls_match_python_checkers(fx):
    res, hdr, flat = fx
    info = hdr.info()
    count = min(len(flat), 6000)
    eager, upstream = sweep_calls(flat, count, info)
    for o in range(count):
        assert eager[o] == check_record_start(flat, o, info), f"eager mismatch at {o}"
        assert upstream[o] == check_record_start_upstream(flat, o, info), f"upstream mismatch at {o}"


def test_full_flags_match_record_flags(fx):
    res, hdr, flat = fx
    info = hdr.info()
    count = min(len(flat), 3000)
    vec = full_flags(flat, count, info)
    assert set(vec) == set(FLAG_NAMES)
    for o in range(count):
        scalar = record_flags(flat, o, info)
        got = {k: bool(vec[k][o]) for k in FLAG_NAMES}
        assert got == scalar, f"flag mismatch at offset {o}: {got} != {scalar}"


def test_sweep_near_window_end(fx):
    """Offsets whose record would cross the window horizon keep the
    scalar checker's accept-on-overflow semantics."""
    res, hdr, flat = fx
    info = hdr.info()
    tail = flat[-500:]
    eager, upstream = sweep_calls(tail, len(tail), info)
    for o in range(len(tail)):
        assert eager[o] == check_record_start(tail, o, info), f"tail mismatch at {o}"


def test_sweep_speed_headroom(fx):
    """The sweep must beat the per-position Python loop (whose cheap
    common case is an early exit on the first field check) — assert ≥2×
    on a 20k-position window; end-to-end the win is larger because the
    pandas list-building also disappears."""
    import time

    res, hdr, flat = fx
    info = hdr.info()
    count = min(len(flat), 20000)
    sweep_calls(flat, 1000, info)  # warm numpy dispatch
    t0 = time.perf_counter()
    sweep_calls(flat, count, info)
    vec_t = time.perf_counter() - t0
    t0 = time.perf_counter()
    for o in range(0, count, 8):  # 1/8 of the positions
        check_record_start(flat, o, info)
        check_record_start_upstream(flat, o, info)
    loop_eighth_t = time.perf_counter() - t0
    assert vec_t < loop_eighth_t * 8 / 2, (vec_t, loop_eighth_t * 8)


def test_ranges_concat_zero_lengths():
    idx = ranges_concat(np.array([5, 100, 7]), np.array([2, 0, 3]))
    assert idx.tolist() == [5, 6, 7, 8, 9]
    assert ranges_concat(np.array([], dtype=np.int64), np.array([], dtype=np.int64)).size == 0
    assert ranges_concat(np.array([3]), np.array([0])).size == 0
