"""Differential check of the split-boundary arithmetic used by the
`bam_compute_splits` / `compare_splits_stats` oracles.

Those oracles re-derive the planner's choice from generator sidecars:
for each split_size boundary, take the first block starting at-or-after
it, then the first record starting at-or-after that block.  The golden
fixture pins one instance; this test pins the ARITHMETIC itself across
random fixtures — build a BAM with a fresh seed, plan it through the
real scan, and compare partition-first positions against the same
derivation computed in plain Python from the generator's returned
record positions and block starts (no decoder involvement).
"""

from __future__ import annotations

import os

import pytest

SPLIT = 16384


def _derive(blocks: list[int], records: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """The oracle arithmetic: distinct first-record-per-split-boundary."""
    out: list[tuple[int, int]] = []
    recs = sorted(records)
    max_start = max(blocks)
    for k in range(0, max_start // SPLIT + 1):
        b0 = min((s for s in blocks if s >= k * SPLIT), default=None)
        if b0 is None:
            continue
        rec = next(((bp, o) for bp, o in recs if bp >= b0), None)
        if rec is not None and (not out or out[-1] != rec):
            out.append(rec)
    return out


@pytest.mark.parametrize("n,payload,seed", [(900, 3000, 77), (2100, 4096, 5), (1500, 8192, 123)])
def test_planner_matches_sidecar_derivation(spark, tmp_path, n, payload, seed):
    from spark_bam_spark.bam.reader import read_bam
    from spark_bam_spark.bam.writer import make_fixture

    path = str(tmp_path / f"rand_{seed}.bam")
    res = make_fixture(path, n=n, block_payload=payload, seed=seed)

    expected = _derive(
        [b.start for b in res.blocks],
        [(p.block_pos, p.offset) for p in res.record_positions],
    )

    reads = read_bam(spark, path, split_size=SPLIT, columns="block_pos,offset")
    from pyspark.sql import functions as F

    firsts = sorted(
        (r["block_pos"], r["offset"])
        for r in reads.select(F.spark_partition_id().alias("pid"), "block_pos", "offset")
        .groupBy("pid")
        .agg(F.min(F.struct("block_pos", "offset")).alias("s"))
        .select("s.block_pos", "s.offset")
        .collect()
    )
    assert firsts == expected, (
        f"n={n} payload={payload} seed={seed}: planner firsts {firsts[:5]}... "
        f"!= derived {expected[:5]}..."
    )
    # and the planner covered every record exactly once
    assert reads.count() == n


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
