"""Generate the committed compare-splits truth sidecars.

``cmp_records.parquet`` / ``cmp_blocks.parquet`` dump the record
positions and block starts of the three compare-splits fixtures straight
from the fixture generator's return value (generator-derived and
decoder-independent, the same status as tools/gen_bam_truth.py), so the
oracle can DERIVE split counts with the same arithmetic the planner uses
(first record at-or-after the first block at-or-after each split_size
boundary).  The qa2500 checker goldens are derived by
tools/gen_checker_truth.py.

Deterministic; rerun only if the fixture recipe deliberately changes.
Outputs are committed under tests/fixtures/.
"""

from __future__ import annotations

import os
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "tests", "fixtures")

CMP_FIXTURES = [("cmp_a", 1200, 11), ("cmp_b", 1800, 12), ("cmp_c", 2400, 13)]


def write_cmp_truth() -> None:
    from spark_bam_spark.bam.writer import make_fixture

    rec_rows: list[tuple[str, int, int]] = []
    blk_rows: list[tuple[str, int]] = []
    with tempfile.TemporaryDirectory() as tmp:
        for label, n, seed in CMP_FIXTURES:
            res = make_fixture(os.path.join(tmp, f"{label}.bam"), n=n, block_payload=4096, seed=seed)
            rec_rows += [(label, p.block_pos, p.offset) for p in res.record_positions]
            blk_rows += [(label, b.start) for b in res.blocks]
    pq.write_table(
        pa.table(
            {
                "file": [r[0] for r in rec_rows],
                "block_pos": pa.array([r[1] for r in rec_rows], pa.int64()),
                "offset": pa.array([r[2] for r in rec_rows], pa.int32()),
            }
        ),
        os.path.join(OUT, "cmp_records.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "file": [r[0] for r in blk_rows],
                "start": pa.array([r[1] for r in blk_rows], pa.int64()),
            }
        ),
        os.path.join(OUT, "cmp_blocks.parquet"),
    )
    print(f"cmp truth: {len(rec_rows)} records, {len(blk_rows)} blocks")


if __name__ == "__main__":
    write_cmp_truth()
