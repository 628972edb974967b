"""Seeded input generator for the scan-layer benchmark.

Every BAM is written through the program's own ``bam.writer.write_bam``
(with its ``.bai``, ``.blocks``, ``.records`` and ``.zones`` sidecars);
the generator keeps the records it wrote and derives the ground truth the
workloads check against.  The program only ever sees the generated files.

Three files per seed, each generated on first use and cached under
``<work>/inputs/v<GEN_VERSION>-<size>-seed<seed>/``:

- ``scan/short.bam``: coordinate-sorted short reads (36-151 bp), positions
  spread over the contigs with hotspots, ~1% unplaced reads at the end;
- ``scan/long.bam``: coordinate-sorted long reads (2-30 kb) whose records
  span BGZF blocks;
- ``mid/mid.bam``: a mid-size short-read file for the check-bam sweep.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import subprocess
import sys
from dataclasses import dataclass

import numpy as np

# bump when the recipe changes: cached inputs of other versions are ignored
GEN_VERSION = 1

CONTIGS = [("chr1", 24_000_000), ("chr2", 18_000_000), ("chr3", 12_000_000)]
CONTIG_SPEC = ",".join(f"{n}:{ln}" for n, ln in CONTIGS)
HOTSPOTS_PER_CONTIG = 3
HOTSPOT_SD = 40_000
UNPLACED_FRAC = 0.01


@dataclass(frozen=True)
class FileSpec:
    name: str  # cache key and qname prefix
    subdir: str
    n_reads: int
    len_lo: int
    len_hi: int
    hotspot_frac: float


SIZES = {
    "full": {
        "short": FileSpec("short", "scan", 70_000, 36, 151, 0.35),
        "long": FileSpec("long", "scan", 600, 2_000, 30_000, 0.2),
        "mid": FileSpec("mid", "mid", 6_000, 36, 151, 0.35),
    },
    "smoke": {
        "short": FileSpec("short", "scan", 3_000, 36, 151, 0.35),
        "long": FileSpec("long", "scan", 20, 2_000, 30_000, 0.2),
        "mid": FileSpec("mid", "mid", 2_000, 36, 151, 0.35),
    },
}


def hotspots(seed: int) -> list[tuple[int, int]]:
    """(ref_idx, centre) of the dense regions; shared by every file of a
    seed and by the interval-query generator."""
    rng = np.random.default_rng([GEN_VERSION, seed, 0])
    out = []
    for ref, (_name, length) in enumerate(CONTIGS):
        for c in rng.integers(HOTSPOT_SD * 3, length - HOTSPOT_SD * 3, HOTSPOTS_PER_CONTIG):
            out.append((ref, int(c)))
    return out


def _positions(rng: np.random.Generator, n: int, seed: int, hotspot_frac: float):
    """Coordinate-sorted (ref_idx, pos) with hotspots; unplaced reads last."""
    lengths = np.array([ln for _n, ln in CONTIGS], dtype=np.int64)
    n_unplaced = int(round(n * UNPLACED_FRAC))
    n_placed = n - n_unplaced
    ref = rng.choice(len(CONTIGS), n_placed, p=lengths / lengths.sum())
    pos = (rng.random(n_placed) * lengths[ref]).astype(np.int64)
    hot = rng.random(n_placed) < hotspot_frac
    spots = hotspots(seed)
    pick = rng.integers(0, len(spots), int(hot.sum()))
    ref[hot] = [spots[i][0] for i in pick]
    centres = np.array([spots[i][1] for i in pick], dtype=np.int64)
    pos[hot] = centres + rng.normal(0, HOTSPOT_SD, int(hot.sum())).astype(np.int64)
    pos = np.clip(pos, 0, lengths[ref] - 1)
    order = np.lexsort((pos, ref))
    ref = np.concatenate([ref[order], np.full(n_unplaced, -1)])
    pos = np.concatenate([pos[order], np.full(n_unplaced, -1)])
    return ref.astype(np.int64), pos


def _records(spec: FileSpec, seed: int, file_idx: int):
    from spark_bam_spark.bam.records import BamRecord

    rng = np.random.default_rng([GEN_VERSION, seed, file_idx])
    n = spec.n_reads
    ref, pos = _positions(rng, n, seed, spec.hotspot_frac)
    lens = rng.integers(spec.len_lo, spec.len_hi + 1, n)
    offs = np.concatenate([[0], np.cumsum(lens)])
    codes = rng.integers(0, 4, int(offs[-1]))
    codes[rng.random(len(codes)) < 0.001] = 4
    seq_all = np.frombuffer(b"ACGTN", dtype=np.uint8)[codes].tobytes().decode("ascii")
    qual_all = rng.integers(2, 41, int(offs[-1]), dtype=np.uint8).tobytes()
    strand = rng.random(n) < 0.5
    dup = rng.random(n) < 0.02
    mate1 = rng.random(n) < 0.5
    mapq = rng.integers(0, 61, n)
    nm = rng.integers(0, 6, n)
    cig_kind = rng.integers(0, 4, n)
    cut = rng.integers(1, 6, n)
    insert = rng.integers(150, 600, n)
    contig_len = [ln for _n, ln in CONTIGS]
    recs = []
    for i in range(n):
        a, b = int(offs[i]), int(offs[i + 1])
        length = b - a
        r, p = int(ref[i]), int(pos[i])
        qname = f"{spec.name[0]}{seed}.{i:08d}"
        if r < 0:
            recs.append(BamRecord(qname, 0x1 | 0x4 | 0x8, -1, -1, 0, [], -1, -1, 0,
                                  seq_all[a:b], qual_all[a:b], {"RG": "rg0", "NM": "0"}))
            continue
        k, c = int(cig_kind[i]), int(cut[i])
        if k == 1:  # soft clip
            cigar = [(4, c), (0, length - c)]
        elif k == 2:  # deletion: consumes reference, not read
            half = length // 2
            cigar = [(0, half), (2, c), (0, length - half)]
        elif k == 3:  # insertion: consumes read, not reference
            half = length // 2
            cigar = [(0, half), (1, c), (0, length - half - c)]
        else:
            cigar = [(0, length)]
        flag = 0x1 | 0x2 | (0x40 if mate1[i] else 0x80) | (0x10 if strand[i] else 0) | (0x400 if dup[i] else 0)
        mate_pos = min(p + int(insert[i]), contig_len[r] - 1)
        tlen = int(insert[i]) if not strand[i] else -int(insert[i])
        recs.append(BamRecord(qname, flag, r, p, int(mapq[i]), cigar, r, mate_pos, tlen,
                              seq_all[a:b], qual_all[a:b], {"RG": "rg0", "NM": str(int(nm[i]))}))
    return recs


def _truth(recs, result) -> dict:
    """Sums the full-width scan aggregate must reproduce, per file."""
    q_max = 40
    return {
        "n": len(recs),
        "flag": sum(r.flag for r in recs),
        "ref_idx": sum(r.ref_idx for r in recs),
        "rname_chars": sum(len(CONTIGS[r.ref_idx][0]) for r in recs if r.ref_idx >= 0),
        "pos": sum(r.pos for r in recs),
        "end_pos": sum(r.end_pos for r in recs),
        "mapq": sum(r.mapq for r in recs),
        "cigar_chars": sum(len(r.cigar_str) for r in recs),  # '*' when empty
        "n_cigar_ops": sum(len(r.cigar) for r in recs),
        "mate_ref_idx": sum(r.mate_ref_idx for r in recs),
        "mate_pos": sum(r.mate_pos for r in recs),
        "tlen": sum(r.tlen for r in recs),
        "seq_len": sum(len(r.seq) for r in recs),
        "bases_a": sum(r.seq.count("A") for r in recs),
        "qual_chars": sum(len(r.qual) for r in recs),
        "qual_max": sum(r.qual.count(q_max) for r in recs),
        "tags": sum(len(r.tags) for r in recs),
        "nm": sum(int(r.tags["NM"]) for r in recs),
        "qname_chars": sum(len(r.qname) for r in recs),
        "block_pos": sum(p.block_pos for p in result.record_positions),
        "offset": sum(p.offset for p in result.record_positions),
        "blocks": len(result.blocks),
        "positions": sum(b.uncompressed_size for b in result.blocks),
    }


def _generate(spec: FileSpec, seed: int, file_idx: int, out_dir: str, truth_dir: str) -> float:
    """Write one BAM (+ sidecars) and its truth; returns seconds taken.
    Files land under a staging name and are renamed into place, the truth
    JSON last, so a killed run never leaves a half-written input behind."""
    from spark_bam_spark.bam.writer import write_bam

    t0 = time.perf_counter()
    recs = _records(spec, seed, file_idx)
    stage = os.path.join(truth_dir, f".stage-{spec.name}-{os.getpid()}")
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    bam = os.path.join(stage, f"{spec.name}.bam")
    res = write_bam(bam, [n for n, _l in CONTIGS], [ln for _n, ln in CONTIGS], recs, sidecars=True)
    truth = _truth(recs, res)
    truth["compressed_bytes"] = os.path.getsize(bam)
    np.savez(os.path.join(truth_dir, f"{spec.name}.npz"),
             ref_idx=np.array([r.ref_idx for r in recs], dtype=np.int64),
             pos=np.array([r.pos for r in recs], dtype=np.int64))
    os.makedirs(out_dir, exist_ok=True)
    for f in sorted(os.listdir(stage), key=lambda f: f.endswith(".bam")):  # .bam last
        os.replace(os.path.join(stage, f), os.path.join(out_dir, f))
    os.rmdir(stage)
    tmp = os.path.join(truth_dir, f".{spec.name}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(truth, fh)
    os.replace(tmp, os.path.join(truth_dir, f"{spec.name}.json"))
    return time.perf_counter() - t0


@dataclass
class Inputs:
    root: str
    seed: int
    truth: dict  # file name -> truth dict
    gen_s: float  # seconds spent generating in this run (0 on a cache hit)
    size: str

    def path(self, name: str) -> str:
        return os.path.join(self.root, SIZES[self.size][name].subdir, f"{name}.bam")

    def dir(self, subdir: str) -> str:
        return os.path.join(self.root, subdir)

    def arrays(self, name: str) -> dict[str, np.ndarray]:
        with np.load(os.path.join(self.root, "truth", f"{name}.npz")) as z:
            return {k: z[k] for k in z.files}


def ensure(work: str, seed: int, names: list[str], size: str = "full") -> Inputs:
    """Generate (in parallel worker processes) whichever of ``names`` is
    not cached for this seed yet, and load the truth of all of them."""
    root = os.path.join(work, "inputs", f"v{GEN_VERSION}-{size}-seed{seed}")
    truth_dir = os.path.join(root, "truth")
    os.makedirs(truth_dir, exist_ok=True)
    specs = SIZES[size]
    order = list(specs)
    missing = [n for n in names if not os.path.exists(os.path.join(truth_dir, f"{n}.json"))]
    gen_s = 0.0
    if missing:
        # one generator process per file, all in parallel
        t0 = time.perf_counter()
        procs = [
            subprocess.Popen([sys.executable, __file__, size, specs[n].name, str(seed), str(order.index(n) + 1),
                              os.path.join(root, specs[n].subdir), truth_dir])
            for n in missing
        ]
        codes = [p.wait() for p in procs]
        if any(codes):
            raise RuntimeError(f"input generation failed for {missing}: exit codes {codes}")
        gen_s = time.perf_counter() - t0
    truth = {}
    for n in names:
        with open(os.path.join(truth_dir, f"{n}.json")) as fh:
            truth[n] = json.load(fh)
    return Inputs(root, seed, truth, gen_s, size)


if __name__ == "__main__":
    # worker entry used by ensure(): size name seed file_idx out_dir truth_dir
    _size, _name, _seed, _idx, _out, _truth_dir = sys.argv[1:7]
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    _generate(SIZES[_size][_name], int(_seed), int(_idx), _out, _truth_dir)
