"""PySpark Python DataSource for BAM: ``spark.read.format("bam")``.

The reference's product core re-architected for Spark's planner:

- split planning = byte ranges (planInputPartitions analogue) — driver
  does NO sequential scan of the file (docs/motivation.md:11-19);
- each partition reader finds its first BGZF block
  (FindBlockStart.scala:8-37), then its first record boundary with the
  eager checker (FindRecordStart.scala:30-63), then decodes records until
  the first record at/after the split end — identical ownership rule to
  CanLoadBam.scala:71-143, so concatenating partitions reproduces the
  file exactly once, for ANY split size;
- predicate pushdown (`pushFilters`): rname/pos predicates prune byte
  splits via the ``.zones`` sidecar (block-level min/max zone map) — the
  Spark-first replacement for BAI chunk lookup (Intervals.scala:171-207).
  All filters are returned to Spark so the residual evaluation is always
  applied (pruning can only skip, never corrupt);
- the write side (``df.write.format("bam")``) emits one part-BAM per
  partition (HTSJDKRewrite.scala:21-93 as a distributed sink).

Rows are produced as Arrow RecordBatches (vectorized boundary crossing).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Iterator

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from spark_bam_spark.bam import bgzf
from spark_bam_spark.bam.bgzf import MAX_BLOCK_SIZE, Pos, parse_block_header
from spark_bam_spark.bam.checker import (
    DEFAULT_MAX_READ_SIZE,
    DEFAULT_READS_TO_CHECK,
    HeaderInfo,
    find_record_start,
)
from spark_bam_spark.bam.header import BamHeader, parse_header
from spark_bam_spark.bam.records import BamRecord

READS_FIELDS = [
    ("qname", "string"),
    ("flag", "int"),
    ("ref_idx", "int"),
    ("rname", "string"),
    ("pos", "bigint"),
    ("end_pos", "bigint"),
    ("mapq", "int"),
    ("cigar", "string"),
    ("n_cigar_ops", "int"),
    ("mate_ref_idx", "int"),
    ("mate_pos", "bigint"),
    ("tlen", "int"),
    ("seq", "string"),
    ("seq_len", "int"),
    ("qual", "string"),
    ("tags", "map<string,string>"),
    ("block_pos", "bigint"),
    ("offset", "int"),
]
READS_DDL = ", ".join(f"{n} {t}" for n, t in READS_FIELDS)

_ARROW_SCHEMA = pa.schema(
    [
        ("qname", pa.string()),
        ("flag", pa.int32()),
        ("ref_idx", pa.int32()),
        ("rname", pa.string()),
        ("pos", pa.int64()),
        ("end_pos", pa.int64()),
        ("mapq", pa.int32()),
        ("cigar", pa.string()),
        ("n_cigar_ops", pa.int32()),
        ("mate_ref_idx", pa.int32()),
        ("mate_pos", pa.int64()),
        ("tlen", pa.int32()),
        ("seq", pa.string()),
        ("seq_len", pa.int32()),
        ("qual", pa.string()),
        ("tags", pa.map_(pa.string(), pa.string())),
        ("block_pos", pa.int64()),
        ("offset", pa.int32()),
    ]
)

DEFAULT_SPLIT_SIZE = 1 << 20  # legacy fixed default; see _adaptive_split_size


def _adaptive_split_size(paths: list[str]) -> int:
    """The Python fallback source's own default split: total input /
    (4 tasks per local core), clamped to [4 MiB, 64 MiB].  The JVM scans
    plan whole waves of the session's parallelism instead
    (bamjvm.SplitPlanner); this policy goes when the Python source does
    (ROADMAP direction 3).  Measured (tools/run_ds_ceiling.py): a
    fixed 1 MiB split ran 3.8x slower than 16 MiB on a 2.6 GB file
    (2,676 tasks of window setup + scheduling), while 4 MiB beat 16 MiB
    on a 133 MB file (under-parallelization) — the optimum tracks tasks
    per core, not a constant.  On a cluster the driver's cpu_count is a
    proxy; the clamps keep the result sane either way, and deployments
    that care pass the split_size option explicitly."""
    total = sum(os.path.getsize(p) for p in paths)
    cores = os.cpu_count() or 8
    return max(4 << 20, min(64 << 20, total // (4 * cores)))


def parse_byte_ranges(spec: str) -> list[tuple[int, int]]:
    """'0-10m,1g-' → [(0, 10MiB), (1GiB, inf)] — the CLI's ByteRanges
    argument (P3, check/.../args/Ranges.scala:33-50 as behavior)."""
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "": 1}

    def num(tok: str) -> int:
        tok = tok.strip().lower()
        suffix = tok[-1] if tok and tok[-1] in units else ""
        return int(float(tok[: len(tok) - len(suffix)] or 0) * units[suffix])

    out = []
    for part in spec.split(","):
        lo_s, _, hi_s = part.partition("-")
        out.append((num(lo_s), num(hi_s) if hi_s.strip() else 1 << 62))
    return out


@dataclass
class BamSplit(InputPartition):
    path: str
    start: int
    end: int
    # indexed scans: multiple candidate byte ranges packed into one
    # partition by estimated uncompressed cost (cappedCostGroups,
    # Intervals.scala:110-117); None = the contiguous [start, end) split
    ranges: list | None = None


def pack_ranges(
    ranges: list[tuple[int, int]], split_size: int, compression_ratio: float = 3.0
) -> list[list[tuple[int, int]]]:
    """Greedy cost-capped grouping of candidate compressed-byte ranges —
    the reference's ``cappedCostGroups(_.size, splitSize)`` with
    ``EstimatedCompressionRatio`` (Intervals.scala:110-117;
    EstimatedCompressionRatio.scala:13, default 3.0).

    Cost of a range = compressed span × ratio (estimated uncompressed
    bytes); each group's total cost ≤ ``split_size``; oversized ranges
    are cut at the cap. Skewed interval queries thus get partitions
    proportional to DATA VOLUME, not to file position — the property
    fixed-size splits lose when candidates cluster."""
    cap = max(1, int(split_size / compression_ratio))  # compressed-byte cap
    merged: list[list[int]] = []
    for lo, hi in sorted(ranges):
        if merged and lo <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], hi)
        elif hi > lo:
            merged.append([lo, hi])
    groups: list[list[tuple[int, int]]] = []
    cur: list[tuple[int, int]] = []
    cost = 0
    for lo, hi in merged:
        while hi - lo > cap:
            if cur:
                groups.append(cur)
                cur, cost = [], 0
            groups.append([(lo, lo + cap)])
            lo += cap
        if lo == hi:
            continue
        if cost + (hi - lo) > cap and cur:
            groups.append(cur)
            cur, cost = [], 0
        cur.append((lo, hi))
        cost += hi - lo
    if cur:
        groups.append(cur)
    return groups


def _bam_paths(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, p) for p in os.listdir(path) if p.endswith(".bam")
        )
    return [path]


class BamReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("bam source requires a path")
        # Explicit option wins; otherwise the split size ADAPTS to total
        # input volume at planning time (see partitions()).  The measured
        # optimum tracks ~a-few-tasks-per-core, not a constant: on the
        # 20M-record probe (tools/run_ds_ceiling.py) a fixed 1 MiB split
        # ran 3.8x slower than 16 MiB (2,676 tasks of window setup +
        # scheduling), while on the 140 MB fixture 4 MiB beat 16 MiB
        # (under-parallelization).  Clamped to [4 MiB, 64 MiB] — the
        # large end matches columnar-scan practice at 100 TB.
        split_opt = options.get("split_size")
        self.split_size = int(split_opt) if split_opt is not None else None
        self.compression_ratio = float(options.get("compression_ratio", 3.0))
        self.reads_to_check = int(options.get("reads_to_check", DEFAULT_READS_TO_CHECK))
        self.max_read_size = int(options.get("max_read_size", DEFAULT_MAX_READ_SIZE))
        # records per emitted Arrow batch: the worker-side knob the probe
        # tools/run_ds_ceiling.py sweeps (spark.sql.execution.arrow.
        # maxRecordsPerBatch does NOT apply to Data Source output — the
        # reader yields its own RecordBatches)
        self.batch_records = int(options.get("batch_records", 16384))
        ranges_opt = options.get("ranges")
        self.byte_ranges = parse_byte_ranges(ranges_opt) if ranges_opt else None
        self.mode = options.get("mode", "failfast")
        if self.mode not in ("failfast", "permissive"):
            raise ValueError(f"mode must be failfast|permissive, got {self.mode!r}")
        cols_opt = options.get("columns")
        all_names = [n for n, _ in READS_FIELDS]
        self.columns = [c.strip() for c in cols_opt.split(",")] if cols_opt else all_names
        self._sel_idx = [all_names.index(c) for c in self.columns]
        arrow_types = dict(zip(_ARROW_SCHEMA.names, _ARROW_SCHEMA.types))
        self.arrow_schema = pa.schema([(c, arrow_types[c]) for c in self.columns])
        self.want_seq = "seq" in self.columns or "seq_len" in self.columns
        self.want_qual = "qual" in self.columns
        self.want_tags = "tags" in self.columns
        # per-file header parse on a bounded pool for multi-file inputs —
        # same planning-latency rationale as the JVM source's mapFiles
        # (serial 2-4 round trips per file add up on remote stores); dict
        # insertion order preserves _bam_paths order either way
        def _hdr(p: str) -> BamHeader:
            with open(p, "rb") as f:
                return parse_header(f)

        # explicit file list (INTERNAL, set by the streaming twin so a
        # micro-batch plans exactly its own files): JSON array of full
        # paths; overrides the directory listing
        files_json = options.get("files_json")
        if files_json:
            import json as _json

            self._paths: list[str] = _json.loads(files_json)
        else:
            self._paths = _bam_paths(self.path)
        paths_all = self._paths
        if len(paths_all) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(16, len(paths_all))) as ex:
                self.headers = dict(zip(paths_all, ex.map(_hdr, paths_all)))
        else:
            self.headers = {p: _hdr(p) for p in paths_all}
        # pushed-down predicate state: rname equality NAMES (resolved
        # against EACH file's own dictionary at pruning time — a directory
        # scan may mix files with divergent reference dictionaries, and
        # resolving against the first file's header could prune blocks
        # holding matching rows in later files) + raw ref_idx set + pos
        # bounds
        self._ref_names: set[str] | None = None
        self._ref_idxs_raw: set[int] | None = None
        self._pos_lo: int | None = None
        self._pos_hi: int | None = None

    # -- pushdown ----------------------------------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            col = f.attribute[-1] if getattr(f, "attribute", None) else None
            if isinstance(f, EqualTo) and col == "rname" and f.value is not None:
                self._ref_names = (self._ref_names or set()) | {str(f.value)}
            elif isinstance(f, In) and col == "rname":
                # pyspark.sql.datasource.In carries its tuple in `.value`
                # (not `.values`); the wrong attribute raised AttributeError
                # on any isin() pushdown until the JVM-reader differential
                # suite exercised the branch (r8)
                names = {str(v) for v in f.value if v is not None}
                self._ref_names = (self._ref_names or set()) | names
            elif isinstance(f, EqualTo) and col == "ref_idx":
                self._ref_idxs_raw = (self._ref_idxs_raw or set()) | {int(f.value)}
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)) and col == "pos":
                v = int(f.value) + (1 if isinstance(f, GreaterThan) else 0)
                self._pos_lo = v if self._pos_lo is None else max(self._pos_lo, v)
            elif isinstance(f, (LessThan, LessThanOrEqual)) and col == "pos":
                v = int(f.value) - (1 if isinstance(f, LessThan) else 0)
                self._pos_hi = v if self._pos_hi is None else min(self._pos_hi, v)
        # Spark re-applies everything — pruning can only skip byte ranges
        return filters

    def _effective_ref_idxs(self, path: str) -> set[int] | None:
        """Candidate ref_idx set for ONE file's dictionary, or None when
        no ref constraint was pushed (pos-only pruning).  May be EMPTY: a
        pushed name absent from this file's dictionary can never match a
        row here (rname is null or a dictionary name), so an empty set
        correctly prunes the whole file."""
        if self._ref_names is None and self._ref_idxs_raw is None:
            return None
        out: set[int] = set(self._ref_idxs_raw or ())
        if self._ref_names is not None:
            hdr = self.headers.get(path)
            name_to_idx = {n: i for i, n in enumerate(hdr.names)} if hdr else {}
            out |= {name_to_idx[n] for n in self._ref_names if n in name_to_idx}
        return out

    def _candidate_blocks(self, path: str) -> list[tuple[int, int]] | None:
        """Compressed-byte ranges surviving the index, or None = no
        pruning info. Prefers the BAI (spec-standard bin/chunk lookup —
        S8/S11) and falls back to the engine's .zones block zone map.
        A split is planned iff it intersects a candidate range; pruning
        can only skip, never corrupt (the residual filter re-applies)."""
        if (
            self._ref_names is None
            and self._ref_idxs_raw is None
            and self._pos_lo is None
            and self._pos_hi is None
        ):
            return None
        ref_idxs = self._effective_ref_idxs(path)
        bai = self._candidate_ranges_bai(path, ref_idxs)
        if bai is not None:
            return bai
        zones_path = path + ".zones"
        if not os.path.exists(zones_path):
            return None
        with open(zones_path) as f:
            rows = [tuple(map(int, line.strip().split(","))) for line in f if line.strip()]
        keep: list[tuple[int, int]] = []
        for i, (bstart, rmin, rmax, pmin, pmax) in enumerate(rows):
            if ref_idxs is not None and not any(rmin <= r <= rmax for r in ref_idxs):
                continue
            if self._pos_lo is not None and pmax < self._pos_lo:
                continue
            if self._pos_hi is not None and pmin > self._pos_hi:
                continue
            # true block span (next zone row's start bounds this block's
            # compressed size) — real spans make the cost-packing
            # estimates meaningful and let adjacent kept blocks merge
            # into one scan window
            end = rows[i + 1][0] if i + 1 < len(rows) else bstart + MAX_BLOCK_SIZE
            keep.append((bstart, min(end, bstart + MAX_BLOCK_SIZE)))
        return keep

    def _candidate_ranges_bai(
        self, path: str, ref_idxs: set[int] | None
    ) -> list[tuple[int, int]] | None:
        """BAI chunk lookup for the pushed interval — needs a concrete
        ref set (the BAI is organized per reference; ``ref_idxs`` is
        already resolved against THIS file's dictionary). Chunk virtual
        offsets map to compressed-byte ranges [start block, end block]."""
        bai_path = path + ".bai"
        if not os.path.exists(bai_path) or ref_idxs is None:
            return None
        from spark_bam_spark.bam.bai import parse_bai, query_chunks

        idx = parse_bai(bai_path)
        # The BAI only indexes placed records (ref_idx >= 0). A pushed
        # ref outside its range (unplaced -1, or out-of-dictionary)
        # cannot be answered by chunk lookup — disable BAI pruning so
        # the zone-map / full-scan path preserves "pruning can only
        # skip, never corrupt" (unplaced reads live in the tail, which
        # the BAI has no chunks for).
        if any(r < 0 or r >= len(idx.bins) for r in ref_idxs):
            return None
        hdr = self.headers.get(path)
        beg = self._pos_lo or 0
        end = self._pos_hi + 1 if self._pos_hi is not None else 1 << 29
        keep: list[tuple[int, int]] = []
        for r in sorted(ref_idxs):
            contig_len = hdr.lengths[r] if hdr and r < len(hdr.lengths) else 1 << 29
            for c in query_chunks(idx, r, beg, min(end, contig_len)):
                keep.append((c.start_pos.block_pos, c.end_pos.block_pos + 1))
        return keep

    def _effective_split_size(self, paths: list[str]) -> int:
        if self.split_size is not None:
            return self.split_size
        return _adaptive_split_size(paths)

    # -- planning ----------------------------------------------------------
    def partitions(self) -> list[BamSplit]:
        splits: list[BamSplit] = []
        paths = self._paths
        split_size = self._effective_split_size(paths)
        for p in paths:
            size = os.path.getsize(p)
            candidates = self._candidate_blocks(p)
            if candidates is not None:
                # indexed scan: pack candidate ranges into partitions by
                # estimated uncompressed cost (O4 cappedCostGroups) —
                # partition count tracks surviving data volume, not file
                # size, so skewed interval queries stay balanced
                clipped = [(max(lo, 0), min(hi, size)) for lo, hi in candidates]
                if self.byte_ranges is not None:
                    clipped = [
                        (max(lo, blo), min(hi, bhi))
                        for lo, hi in clipped
                        for blo, bhi in self.byte_ranges
                        if lo < bhi and hi > blo
                    ]
                for group in pack_ranges(clipped, split_size, self.compression_ratio):
                    splits.append(
                        BamSplit(p, group[0][0], group[-1][1], ranges=list(group))
                    )
                continue
            for s in range(0, size, split_size):
                e = min(s + split_size, size)
                if self.byte_ranges is not None and not any(
                    lo < e and hi > s for lo, hi in self.byte_ranges
                ):
                    continue
                splits.append(BamSplit(p, s, e))
        return splits or [BamSplit(self._paths[0], 0, 0)]

    # -- execution ---------------------------------------------------------
    def read(self, split: BamSplit) -> Iterator[pa.RecordBatch]:
        for lo, hi in split.ranges or [(split.start, split.end)]:
            yield from self._read_range(split.path, lo, hi)

    def _read_range(self, path: str, start: int, end: int) -> Iterator[pa.RecordBatch]:
        """One contiguous byte range under the ownership rule: records
        starting in blocks at/after ``start`` and before ``end``."""
        if end <= start:
            return
        hdr = self.headers[path]
        info = hdr.info()
        try:
            with open(path, "rb") as f:
                win = _Window(f, start, hdr)
                if win.empty:
                    return
                if start == 0:
                    start_u = win.u_of(hdr.end)
                else:
                    win.ensure(4 * MAX_BLOCK_SIZE)  # lookahead for readsToCheck successors
                    start_u = find_record_start(
                        win.buf, 0, info, reads_to_check=self.reads_to_check,
                        max_read_size=self.max_read_size, ensure=win.ensure,
                    )
                    if start_u is None:
                        return
                yield from self._decode_from(win, start_u, end, hdr)
        except Exception:
            # permissive mode: salvage whatever this range already
            # produced and drop the rest of it (a corrupt BGZF payload /
            # truncated record makes the remainder of the window
            # undecodable; other splits re-sync independently via
            # find_block_start). failfast (default) propagates.
            if self.mode != "permissive":
                raise

    def _decode_from(
        self, win: "_Window", u: int, split_end: int, hdr: BamHeader
    ) -> Iterator[pa.RecordBatch]:
        """Two phases, both scale-shaped:

        1. WALK — the only inherently sequential part: hop record starts
           via block_size (a pointer chase, ~0.1 µs/record), recording
           (uncompressed offset, owning block, in-block offset).
        2. DECODE — numpy/Arrow batch decode of every requested column
           for 16 Ki records at a time (vectordecode.decode_batch); no
           per-record Python objects for any non-tag column.
        """
        import struct

        import numpy as np

        from spark_bam_spark.bam.vectordecode import decode_batch

        unpack_i = struct.Struct("<i").unpack_from
        starts: list[int] = []
        buf = win.buf  # bytearray, extended in place by win.ensure
        ustarts = win.block_ustarts
        bstarts = win.block_starts
        buflen = len(buf)
        bi = 0
        while bi + 1 < len(ustarts) and u >= ustarts[bi + 1]:
            bi += 1
        next_bu = ustarts[bi + 1] if bi + 1 < len(ustarts) else 1 << 62
        if bstarts[bi] >= split_end:
            return  # window's first block already belongs to the next split
        append = starts.append
        readahead = 256 << 10
        try:
            while True:
                if u + 4 > buflen:
                    win.ensure(u + readahead)
                    buflen = len(buf)
                    next_bu = ustarts[bi + 1] if bi + 1 < len(ustarts) else 1 << 62
                    if u + 4 > buflen:
                        break  # clean EOF or dangling partial length int
                if u >= next_bu:  # crossed into a later block: re-own
                    while bi + 1 < len(ustarts) and u >= ustarts[bi + 1]:
                        bi += 1
                    next_bu = ustarts[bi + 1] if bi + 1 < len(ustarts) else 1 << 62
                    if bstarts[bi] >= split_end:
                        break  # first record of the next split — not ours
                (bs,) = unpack_i(buf, u)
                if bs < 32:
                    raise ValueError(f"truncated/invalid record at {u}")
                nxt = u + 4 + bs
                if nxt > buflen:
                    win.ensure(nxt + readahead)
                    buflen = len(buf)
                    next_bu = ustarts[bi + 1] if bi + 1 < len(ustarts) else 1 << 62
                    if nxt > buflen:
                        raise ValueError(f"truncated/invalid record at {u}")
                append(u)
                u = nxt
        except Exception:
            # permissive: salvage the records walked so far; the rest of
            # this split's window is undecodable
            if self.mode != "permissive":
                raise
        if not starts:
            return
        sa = np.asarray(starts, dtype=np.int64)
        # Layout validation, vectorized (one (n,24) gather — decode_batch
        # gathers (n,36) anyway): the decoder trusts the derived
        # l_read_name/n_cigar/l_seq offsets, so a corrupt record whose
        # block_size passed the >=32 walk check must be rejected HERE
        # instead of yielding garbage columns.  Mirror of the JVM
        # walker's per-record check (RecordWalker.step); permissive mode
        # keeps the records BEFORE the first corrupt one and drops the
        # rest of the range — the same salvage boundary as the JVM path,
        # pinned by test_permissive_corrupt_record_parity.
        fxd = np.ascontiguousarray(
            np.frombuffer(buf, dtype=np.uint8, count=len(buf))[sa[:, None] + np.arange(24)]
        )
        v_bs = fxd[:, 0:4].copy().view("<i4").ravel().astype(np.int64)
        v_lname = fxd[:, 12].astype(np.int64)
        v_ncig = fxd[:, 16:18].copy().view("<u2").ravel().astype(np.int64)
        v_lseq = fxd[:, 20:24].copy().view("<i4").ravel().astype(np.int64)
        ok = (v_lseq >= 0) & (
            32 + v_lname + 4 * v_ncig + (v_lseq + 1) // 2 + v_lseq <= v_bs
        )
        if not bool(ok.all()):
            first_bad = int(np.argmax(~ok))
            if self.mode != "permissive":
                raise ValueError(f"corrupt record layout at {int(sa[first_bad])}")
            sa = sa[:first_bad]
            if first_bad == 0:
                return
        ua = np.asarray(ustarts, dtype=np.int64)
        ba = np.asarray(bstarts, dtype=np.int64)
        owner = np.searchsorted(ua, sa, side="right") - 1
        bpos = ba[owner]
        boff = sa - ua[owner]
        chunk = self.batch_records
        for lo in range(0, len(starts), chunk):
            sl = slice(lo, lo + chunk)
            yield decode_batch(
                buf, sa[sl], bpos[sl], boff[sl], hdr.names, self.columns, self.arrow_schema
            )


class _Window(object):
    """Lazily-extended uncompressed window over the block stream starting
    at the first BGZF block at/after a byte offset — the engine's
    SeekableUncompressedBytes (bgzf/.../block/UncompressedBytes.scala:13-81)."""

    def __init__(self, f, start: int, hdr: BamHeader) -> None:
        self.f = f
        self.buf = bytearray()
        self.block_starts: list[int] = []
        self.block_ustarts: list[int] = []
        self.empty = False
        self._exhausted = False
        if start == 0:
            self._next_cpos = 0
        else:
            f.seek(start)
            probe = f.read(MAX_BLOCK_SIZE * 2)
            rel = bgzf.find_block_start(probe, 0)
            if rel is None:
                self.empty = True
                return
            self._next_cpos = start + rel
        self._load_block()
        if not self.block_starts:
            self.empty = True

    def _load_block(self) -> bool:
        if self._exhausted:
            return False
        self.f.seek(self._next_cpos)
        head = self.f.read(MAX_BLOCK_SIZE)
        if len(head) < bgzf.BGZF_HEADER_LEN:
            self._exhausted = True
            return False
        bsize = parse_block_header(head)
        if bsize is None:
            self._exhausted = True
            return False
        while len(head) < bsize:
            more = self.f.read(bsize - len(head))
            if not more:
                self._exhausted = True
                return False
            head += more
        data = bgzf.decompress_block(head, 0, bsize)
        if not data:
            self._exhausted = True
            return False
        self.block_starts.append(self._next_cpos)
        self.block_ustarts.append(len(self.buf))
        self.buf.extend(data)
        self._next_cpos += bsize
        return True

    def ensure(self, nbytes: int) -> None:
        while len(self.buf) < nbytes and self._load_block():
            pass

    def base_len(self) -> int:
        return len(self.buf)

    def to_pos(self, u: int) -> Pos:
        import bisect

        i = bisect.bisect_right(self.block_ustarts, u) - 1
        return Pos(self.block_starts[i], u - self.block_ustarts[i])

    def u_of(self, pos: Pos) -> int:
        self.ensure(1)
        while self.block_starts[-1] < pos.block_pos and self._load_block():
            pass
        i = self.block_starts.index(pos.block_pos)
        return self.block_ustarts[i] + pos.offset


class BamWriter(DataSourceWriter):
    """Distributed BAM sink: one part-BAM per partition under ``path``."""

    def __init__(self, options: dict, schema: StructType) -> None:
        import uuid

        self.path = options.get("path")
        contigs = options.get("contigs", "")
        self.names: list[str] = []
        self.lengths: list[int] = []
        for part in contigs.split(","):
            if ":" in part:
                n, ln = part.rsplit(":", 1)
                self.names.append(n)
                self.lengths.append(int(ln))
        self.block_payload = int(options.get("block_payload", 0xFF00))
        if not 1 <= self.block_payload <= 0xFF00:
            # same bound the JVM sink enforces (BamWriteSupport): 0 would
            # spin the streaming encoder forever, >0xFF00 can overflow a
            # BGZF block on incompressible data
            raise ValueError(f"bam write: block_payload must be in [1, {0xFF00}]")
        self.deflate_level = int(options.get("deflate_level", 6))
        if not 0 <= self.deflate_level <= 9:
            raise ValueError("bam write: deflate_level must be in [0, 9]")
        self.bai = str(options.get("bai", "false")).lower() == "true"
        # job-unique part-name token, generated driver-side once per write
        # (parity with the JVM sink's queryId-suffixed parts): append into
        # a directory that already holds output never clobbers an earlier
        # job's same-numbered part
        self.job_token = uuid.uuid4().hex[:12]

    def write(self, rows: Iterator) -> WriterCommitMessage:
        from pyspark import TaskContext

        from spark_bam_spark.bam.writer import StreamingBamEncoder

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        os.makedirs(self.path, exist_ok=True)
        name_to_idx = {n: i for i, n in enumerate(self.names)}
        def val(d: dict, key: str, default):
            # d.get(key, default) returns None (not default) when the
            # column exists but the row value is NULL — coalesce both
            v = d.get(key)
            return default if v is None else v

        # write to a task-attempt-private .inprogress name, rename on
        # success (parity with the JVM sink: a retried/speculative task
        # cannot leave a torn part behind; os.replace is atomic).
        # Records STREAM through the encoder's block-sized staging buffer
        # (r11): the task holds O(block_payload) bytes, never the
        # partition's record list — the memory shape a 100 TB rewrite
        # needs even on the no-JDK fallback path.
        final = os.path.join(self.path, f"part-{pid:05d}-{self.job_token}.bam")
        tmp = os.path.join(
            self.path, f".part-{pid:05d}-{ctx.taskAttemptId()}.bam.inprogress"
        )
        prev_ref = prev_pos = None
        try:
            with open(tmp, "wb") as f:
                enc = StreamingBamEncoder(
                    f,
                    self.names,
                    self.lengths,
                    block_payload=self.block_payload,
                    level=self.deflate_level,
                    bai=self.bai,
                )
                for row in rows:
                    d = row.asDict()
                    ref_idx = d.get("ref_idx")
                    if ref_idx is None:
                        ref_idx = name_to_idx.get(d.get("rname"), -1)
                    if self.bai and int(ref_idx) >= 0 and int(val(d, "pos", -1)) >= 0:
                        # The BAI linear-index floor is only sound when
                        # voffsets are monotone in (ref, pos) — the spec's
                        # coordinate-sort contract (samtools index refuses
                        # unsorted BAMs the same way).  Fail loudly instead
                        # of emitting an index that silently misprunes.
                        # (Same contract as the JVM sink.)
                        r, p = int(ref_idx), int(val(d, "pos", -1))
                        if prev_ref is not None and (r, p) < (prev_ref, prev_pos):
                            raise ValueError(
                                f"bai=true requires coordinate-sorted partitions "
                                f"(got ref {r} pos {p} after ref {prev_ref} pos "
                                f'{prev_pos}); sortWithinPartitions("ref_idx", '
                                f'"pos") before the write'
                            )
                        prev_ref, prev_pos = r, p
                    qual_s = val(d, "qual", "")
                    enc.add(
                        BamRecord(
                            qname=val(d, "qname", ""),
                            flag=int(val(d, "flag", 0)),
                            ref_idx=int(ref_idx),
                            pos=int(val(d, "pos", -1)),
                            mapq=int(val(d, "mapq", 0)),
                            cigar=_parse_cigar(val(d, "cigar", "*")),
                            mate_ref_idx=int(val(d, "mate_ref_idx", -1)),
                            mate_pos=int(val(d, "mate_pos", -1)),
                            tlen=int(val(d, "tlen", 0)),
                            seq=val(d, "seq", ""),
                            # phred+33 text → raw scores, clamped legal
                            qual=bytes(min(max(ord(c) - 33, 0), 255) for c in qual_s),
                            tags=dict(val(d, "tags", {})),
                        )
                    )
                enc.finish()
            if self.bai:
                from spark_bam_spark.bam.bai import write_bai

                write_bai(tmp + ".bai", enc.bai.index())
            os.replace(tmp, final)
            if self.bai:
                os.replace(tmp + ".bai", final + ".bai")
        finally:
            for leftover in (tmp, tmp + ".bai"):
                if os.path.exists(leftover):
                    os.remove(leftover)
        return WriterCommitMessage()


def _parse_cigar(s: str) -> list[tuple[int, int]]:
    from spark_bam_spark.bam.records import CIGAR_OPS

    if not s or s == "*":
        return []
    out = []
    num = ""
    for ch in s:
        if ch.isdigit():
            num += ch
        else:
            if ch not in CIGAR_OPS or not num:
                raise ValueError(
                    f"invalid cigar string {s!r}: expected (<digits><op in {CIGAR_OPS}>)*"
                )
            out.append((CIGAR_OPS.index(ch), int(num)))
            num = ""
    return out


class BamDataSource(DataSource):
    """``spark.read.format("bam").option("split_size", ...).load(path)``"""

    @classmethod
    def name(cls) -> str:
        return "bam"

    def schema(self) -> str:
        # manual column pruning (the Python DS API has no
        # SupportsPushDownRequiredColumns yet): option("columns",
        # "rname,pos,...") narrows the schema AND skips decoding the
        # expensive variable-length fields in the reader
        cols = self.options.get("columns")
        if cols:
            want = [c.strip() for c in cols.split(",")]
            fields = dict(READS_FIELDS)
            unknown = [c for c in want if c not in fields]
            if unknown:
                raise ValueError(f"unknown columns {unknown}; available: {list(fields)}")
            return ", ".join(f"{c} {fields[c]}" for c in want)
        return READS_DDL

    def reader(self, schema: StructType) -> BamReader:
        return BamReader(dict(self.options))

    def streamReader(self, schema: StructType) -> "BamStreamReader":
        # spark.readStream.format("bam").load(dir) — see BamStreamReader
        return BamStreamReader(dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> BamWriter:
        if overwrite:
            # runs on the driver: df.write.mode("overwrite") replaces the
            # directory (parity with the JVM sink's SupportsTruncate)
            import shutil

            out = self.options.get("path")
            if out and os.path.isdir(out):
                shutil.rmtree(out, ignore_errors=True)
        return BamWriter(dict(self.options), schema)


class BamStreamReader(DataSourceStreamReader):
    """Structured Streaming twin of :class:`BamReader` — the no-JDK
    fallback for the landing-dir ingest source and the differential
    oracle the tests run against the JVM source
    (bamjvm/BamMicroBatchStream): each micro-batch ingests the ``.bam``
    files that appeared since the last batch, planned and decoded by the
    SAME BamReader machinery as the batch scan, so a drained stream is
    row-identical to a batch read of the same directory.

    DESIGN ASYMMETRY, deliberate and documented (COVERAGE.md §2.9): this
    twin uses SELF-DESCRIBING name-set offsets — the checkpointed offset
    is the sorted list of every file name ever admitted, so
    ``partitions(start, end)`` is a pure set difference and restart
    replay needs no side state.  That is O(total files) offset JSON per
    trigger: correct at test/fallback scale, wrong for a 10^5–10^6-file
    landing zone — which is why the JVM source instead checkpoints an
    O(1) batch id backed by a compacted metadata log and carries the
    admission-control surface (max_file_age_ms, max_files_per_batch,
    ReadLimit, availableNow snapshots).  The twin intentionally does NOT
    duplicate that machinery: its job is row parity, not scale parity.

    Files are ingested whole once they appear (the lister only matches
    ``*.bam``; this engine's writer lands ``.inprogress`` temp names and
    renames on commit, so torn files are never visible); a file deleted
    between listing and planning or reading is skipped, not fatal —
    the JVM source's behavior.
    """

    def __init__(self, options: dict) -> None:
        self.options = dict(options)
        self.path = options.get("path")
        if not self.path:
            raise ValueError("bam stream source requires a path")
        # monotonic within a run: a file deleted after admission stays in
        # the offset, so offsets never shrink between triggers.  Across a
        # RESTART the set reseeds from the replayed batch's checkpointed
        # offsets (see partitions()); the residual corner — every batch
        # committed, an admitted file deleted, a NEW file landing later
        # under the same name — re-ingests that name (the JVM source's
        # side log dedups it; this twin deliberately keeps no side state).
        self._known: set[str] = set()
        # executor-side per-path reader cache (header parse memoization);
        # bounded so an eternally-landing stream can't grow it forever
        self._readers: dict[str, BamReader] = {}

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        # exists-check so a not-yet-created landing root (or a root file
        # that vanished) admits nothing instead of a phantom name that
        # would sit in every future offset
        self._known |= {
            os.path.basename(p) for p in _bam_paths(self.path) if os.path.exists(p)
        }
        return {"files": sorted(self._known)}

    def partitions(self, start: dict, end: dict) -> list[BamSplit]:
        # reseed the monotonic set from the checkpointed offsets: on a
        # restart that replays an uncommitted batch, this runs before the
        # next latestOffset, so names admitted in prior runs stay in the
        # offset even if their files were deleted since
        self._known |= set(start["files"]) | set(end["files"])
        new = sorted(set(end["files"]) - set(start["files"]))
        root_is_dir = os.path.isdir(self.path)
        paths = [os.path.join(self.path, n) if root_is_dir else self.path for n in new]
        import json as _json

        # one batch-scoped BamReader: same header parse, adaptive split
        # sizing, and range packing as the batch read of exactly these
        # files.  A file can vanish between the exists() filter and the
        # header parse / getsize inside BamReader — re-filter and retry
        # (bounded) instead of failing the micro-batch, the JVM source's
        # planInputPartitions behavior.
        for _ in range(len(paths) + 1):
            paths = [p for p in paths if os.path.exists(p)]
            if not paths:
                return []
            try:
                return BamReader(
                    {**self.options, "files_json": _json.dumps(paths)}
                ).partitions()
            except FileNotFoundError:
                continue
        return []

    def read(self, partition: BamSplit) -> Iterator[pa.RecordBatch]:
        # executor side: the planning-time reader instance is NOT shipped
        # with the partition (the read function closes over a separate
        # instance created once per worker), so rebuild the decode state
        # from options — memoized per path, one header parse per file per
        # worker instead of per split
        import json as _json

        reader = self._readers.get(partition.path)
        if reader is None:
            try:
                reader = BamReader(
                    {**self.options, "files_json": _json.dumps([partition.path])}
                )
            except FileNotFoundError:
                return  # deleted between planning and read: skip (JVM parity)
            if len(self._readers) >= 64:
                self._readers.pop(next(iter(self._readers)))
            self._readers[partition.path] = reader
        yield from reader.read(partition)

    def commit(self, end: dict) -> None:
        # offsets are self-describing; nothing to clean up
        pass


class BgzfBlocksDataSource(DataSource):
    """``spark.read.format("bgzf_blocks").load(path)`` — the blocks
    metadata table (Blocks.scala:47-208, S9): parallel in-file discovery,
    one partition per byte split, no sidecar required."""

    @classmethod
    def name(cls) -> str:
        return "bgzf_blocks"

    def schema(self) -> str:
        return "path string, start bigint, compressed_size int, uncompressed_size int"

    def reader(self, schema: StructType) -> "BgzfBlocksReader":
        return BgzfBlocksReader(dict(self.options))


class BgzfBlocksReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        # same adaptive default as BamReader (header hopping is cheap per
        # byte, but thousands of 1 MiB tasks on a multi-GB file still pay
        # scheduling + open/seek per task)
        split_opt = options.get("split_size")
        self.split_size = int(split_opt) if split_opt is not None else None
        ranges_opt = options.get("ranges")
        self.byte_ranges = parse_byte_ranges(ranges_opt) if ranges_opt else None

    def partitions(self) -> list[BamSplit]:
        paths = _bam_paths(self.path)
        split_size = self.split_size if self.split_size is not None else _adaptive_split_size(paths)
        return [
            BamSplit(p, s, min(s + split_size, os.path.getsize(p)))
            for p in paths
            for s in range(0, os.path.getsize(p), split_size)
        ]

    def read(self, split: BamSplit) -> Iterator[tuple]:
        """Walk block headers from the first block at/after split.start,
        stopping at the first block at/after split.end (owned by the next
        split) — header-only, payloads skipped."""
        with open(split.path, "rb") as f:
            if split.start == 0:
                cpos = 0
            else:
                f.seek(split.start)
                probe = f.read(MAX_BLOCK_SIZE * 2)
                rel = bgzf.find_block_start(probe, 0)
                if rel is None:
                    return
                cpos = split.start + rel
            import struct

            while cpos < split.end:
                f.seek(cpos)
                head = f.read(bgzf.BGZF_HEADER_LEN)
                if len(head) < bgzf.BGZF_HEADER_LEN:
                    return
                bsize = parse_block_header(head)
                if bsize is None:
                    return
                f.seek(cpos + bsize - 4)
                (isize,) = struct.unpack("<I", f.read(4))
                if isize == 0:
                    return
                if self.byte_ranges is None or any(
                    lo <= cpos < hi for lo, hi in self.byte_ranges
                ):
                    yield (split.path, cpos, bsize, isize)
                cpos += bsize


def _mirror_includes_for_streaming_runner(spark) -> None:
    """Make addPyFile'd includes visible to the Python STREAMING source
    runner.  pyspark 4.1's PythonStreamingSourceRunner announces its
    spark-files dir to the worker as ``<SparkFiles root>/streaming_job``
    (a hardcoded jobArtifactUUID in PythonStreamingSourceRunner.init),
    but ``addPyFile`` lands includes in the root itself — so the runner's
    ``setup_spark_files`` adds sys.path entries that don't exist and
    unpickling the DataSource dies with ModuleNotFoundError whenever the
    driver's cwd doesn't already make the package importable.  Batch
    planning workers are unaffected (no jobArtifactUUID).  Mirroring the
    include files into the subdir the runner announces fixes streaming
    reads for foreign-cwd drivers (e.g. the external verification
    driver)."""
    sc = spark.sparkContext
    includes = list(getattr(sc, "_python_includes", None) or [])
    if not includes:
        return
    try:
        from pyspark.core.files import SparkFiles

        root = SparkFiles.getRootDirectory()
    except Exception:
        return  # non-classic session: nothing to mirror
    import shutil

    sub = os.path.join(root, "streaming_job")
    os.makedirs(sub, exist_ok=True)
    for name in includes:
        src, dst = os.path.join(root, name), os.path.join(sub, name)
        if os.path.exists(src) and (
            not os.path.exists(dst) or os.path.getmtime(src) > os.path.getmtime(dst)
        ):
            # copy2 preserves mtime so the staleness check stays sound
            # when the same include name is re-shipped with new content
            shutil.copy2(src, dst)


def register(spark) -> None:
    spark.dataSource.register(BamDataSource)
    spark.dataSource.register(BgzfBlocksDataSource)
    _mirror_includes_for_streaming_runner(spark)
