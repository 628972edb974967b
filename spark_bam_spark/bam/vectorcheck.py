"""Vectorized per-position checker sweep.

The reference's differential claim is "check EVERY uncompressed
position" (FullCheck.scala:86-325, PosIterator.scala:5-15). A Python
loop calling the eager checker at every offset caps the sweep at ~200k
positions/s; this module prescreens ALL offsets of a block at once with
numpy (little-endian field views at every byte alignment), eliminating
>99.9% of candidates, and only runs the authoritative Python checker on
the survivors. The prescreen is *conservative by construction*: every
prescreen condition is one of the checker's own first-record checks, so
prescreen-false ⇒ checker-false, and the Python confirm on survivors
makes the combined verdict exact.

Also provides the fully-vectorized 19-flag evaluation for the full
checker's per-position diagnostics (full/Checker.scala:17-186) — exact
parity with ``checker.record_flags`` is pinned in tests.
"""

from __future__ import annotations

import numpy as np

from spark_bam_spark.bam.checker import (
    DEFAULT_MAX_READ_SIZE,
    DEFAULT_READS_TO_CHECK,
    FLAG_NAMES,
    HeaderInfo,
    check_record_start,
    check_record_start_upstream,
)

_FIXED = 36

# ASCII subset `[!-?A-~]` (Checker.scala:11-16) as a byte lookup
_NAME_OK = np.zeros(256, dtype=bool)
_NAME_OK[0x21:0x40] = True
_NAME_OK[0x41:0x7F] = True

# cap on vectorially-gathered items per position for the early-break
# checks (name chars / cigar ops); survivors are confirmed in Python
_GATHER_CAP = 8


class _Fields:
    """Little-endian record fields decoded at EVERY byte offset
    o ∈ [0, count) of a window (padded so out-of-window reads are 0)."""

    def __init__(self, window: bytes, count: int) -> None:
        self.n = len(window)
        self.count = count
        pad = np.zeros(max(self.n, count + _FIXED + 4) + 4, dtype=np.uint8)
        pad[: self.n] = np.frombuffer(window, dtype=np.uint8, count=self.n)
        self.b = pad

    def i32(self, k: int) -> np.ndarray:
        b, c = self.b, self.count
        v = (
            b[k : k + c].astype(np.uint32)
            | (b[k + 1 : k + 1 + c].astype(np.uint32) << 8)
            | (b[k + 2 : k + 2 + c].astype(np.uint32) << 16)
            | (b[k + 3 : k + 3 + c].astype(np.uint32) << 24)
        )
        return v.view(np.int32)

    def u16(self, k: int) -> np.ndarray:
        b, c = self.b, self.count
        return (b[k : k + c].astype(np.uint16) | (b[k + 1 : k + 1 + c].astype(np.uint16) << 8))

    def u8(self, k: int) -> np.ndarray:
        return self.b[k : k + self.count].astype(np.int64)


def _common(f: _Fields, info: HeaderInfo):
    lens = np.asarray(info.contig_lengths, dtype=np.int64)
    n_refs = len(lens)
    bs = f.i32(0).astype(np.int64)
    ref = f.i32(4).astype(np.int64)
    pos = f.i32(8).astype(np.int64)
    l_name = f.u8(12)
    n_cigar = f.u16(16).astype(np.int64)
    flag = f.u16(18).astype(np.int64)
    l_seq = f.i32(20).astype(np.int64)
    mref = f.i32(24).astype(np.int64)
    mpos = f.i32(28).astype(np.int64)
    # raw l_seq (may be negative) — Python's floor division semantics
    # match numpy's, and the scalar checker computes implied the same way
    implied = 32 + l_name + 4 * n_cigar + (l_seq + 1) // 2 + l_seq
    lim = lens[np.clip(ref, 0, max(n_refs - 1, 0))] if n_refs else np.zeros(f.count, np.int64)
    mlim = lens[np.clip(mref, 0, max(n_refs - 1, 0))] if n_refs else np.zeros(f.count, np.int64)
    return lens, n_refs, bs, ref, pos, l_name, n_cigar, flag, l_seq, mref, mpos, implied, lim, mlim


def _name_nul_ok(f: _Fields, l_name: np.ndarray) -> np.ndarray:
    """True where the name's terminating NUL check passes OR cannot be
    evaluated in-window (the Python checker skips it then too)."""
    o = np.arange(f.count, dtype=np.int64)
    end = o + _FIXED + l_name  # one past last name byte
    checkable = (l_name > 0) & (end <= f.n)
    last = f.b[np.minimum(end - 1, len(f.b) - 1)]
    return ~checkable | (last == 0)


def eager_prescreen(
    window: bytes, count: int, info: HeaderInfo, max_read_size: int = DEFAULT_MAX_READ_SIZE
) -> np.ndarray:
    """Boolean array over offsets [0, count): True = MAY be a record
    start per the eager checker's first-record checks (must be confirmed);
    False = the eager checker definitely rejects."""
    f = _Fields(window, count)
    (lens, n_refs, bs, ref, pos, l_name, n_cigar, flag, l_seq, mref, mpos, implied, lim, mlim) = _common(f, info)
    unmapped = (flag & 0x4) != 0
    ok = (
        (bs >= 32)
        & (bs + 4 <= max_read_size)
        & (ref >= -1)
        & (ref < n_refs)
        & (pos >= -1)
        & ((ref < 0) | (pos <= lim))
        & (mref >= -1)
        & (mref < n_refs)
        & (mpos >= -1)
        & ((mref < 0) | (mpos <= mlim))
        & (l_name > 1)
        & (l_seq >= 0)
        & (unmapped | ((n_cigar > 0) & (l_seq > 0)))
        & (bs >= implied)
        & _name_nul_ok(f, l_name)
    )
    # positions too close to the window end to hold the fixed fields:
    # the checker fails them (n - o < 36)
    o = np.arange(count, dtype=np.int64)
    ok &= o + _FIXED <= f.n
    return ok


def upstream_prescreen(
    window: bytes, count: int, info: HeaderInfo, max_read_size: int = DEFAULT_MAX_READ_SIZE
) -> np.ndarray:
    """Prescreen for the upstream-emulating checker (weaker subset: no
    locus upper bound, l_name >= 1, no mapped-cigar/seq checks)."""
    f = _Fields(window, count)
    (lens, n_refs, bs, ref, pos, l_name, n_cigar, flag, l_seq, mref, mpos, implied, lim, mlim) = _common(f, info)
    ok = (
        (bs >= 32)
        & (bs + 4 <= max_read_size)
        & (ref >= -1)
        & (ref < n_refs)
        & (pos >= -1)
        & (mref >= -1)
        & (mref < n_refs)
        & (mpos >= -1)
        & (l_name >= 1)
        & (l_seq >= 0)
        & (bs >= implied)
        & _name_nul_ok(f, l_name)
    )
    o = np.arange(count, dtype=np.int64)
    ok &= o + _FIXED <= f.n
    return ok


def sweep_calls(
    window: bytes,
    count: int,
    info: HeaderInfo,
    reads_to_check: int = DEFAULT_READS_TO_CHECK,
    max_read_size: int = DEFAULT_MAX_READ_SIZE,
) -> tuple[np.ndarray, np.ndarray]:
    """(eager_call, upstream_call) boolean arrays over every offset in
    [0, count): vectorized prescreen + Python confirm on survivors."""
    eager = eager_prescreen(window, count, info, max_read_size)
    for o in np.flatnonzero(eager):
        eager[o] = check_record_start(window, int(o), info, reads_to_check, max_read_size)
    upstream = upstream_prescreen(window, count, info, max_read_size)
    for o in np.flatnonzero(upstream):
        upstream[o] = check_record_start_upstream(window, int(o), info, reads_to_check, max_read_size)
    return eager, upstream


def full_flags(window: bytes, count: int, info: HeaderInfo) -> dict[str, np.ndarray]:
    """All 19 diagnostic flags at every offset of [0, count) — exact
    vectorized parity with ``checker.record_flags``. Returns a dict of
    19 boolean arrays keyed by FLAG_NAMES."""
    f = _Fields(window, count)
    (lens, n_refs, bs, ref, pos, l_name, n_cigar, flag, l_seq, mref, mpos, implied, lim, mlim) = _common(f, info)
    o = np.arange(count, dtype=np.int64)
    n = f.n
    out = {k: np.zeros(count, dtype=bool) for k in FLAG_NAMES}

    too_few = o + _FIXED > n
    out["too_few_fixed_block_bytes"] = too_few

    def pos_errs(idx, p, lim_, neg_i, big_i, neg_p, big_p):
        # RefPosError decision tree (full/error/RefPosError.scala:7-33);
        # negativeRefPos reduces to (p < -1) across all idx branches
        neg_idx = idx < -1
        big_idx = ~neg_idx & (idx >= n_refs)
        in_range = ~neg_idx & ~big_idx
        out[neg_i] |= neg_idx
        out[big_i] |= big_idx
        out[neg_p] |= p < -1
        out[big_p] |= in_range & (idx >= 0) & (p >= -1) & (p > lim_)

    pos_errs(ref, pos, lim, "negative_read_idx", "too_large_read_idx", "negative_read_pos", "too_large_read_pos")
    pos_errs(mref, mpos, mlim, "negative_next_read_idx", "too_large_next_read_idx", "negative_next_read_pos", "too_large_next_read_pos")

    unmapped = (flag & 0x4) != 0
    out["no_read_name"] = l_name == 0
    out["empty_read_name"] = l_name == 1
    out["empty_mapped_cigar"] = ~unmapped & (n_cigar == 0)
    out["empty_mapped_seq"] = ~unmapped & (l_seq == 0)
    out["too_few_remaining_bytes_implied"] = bs < implied

    name_end = o + _FIXED + l_name
    has_name = l_name > 0
    out["too_few_bytes_for_read_name"] = has_name & (name_end > n)
    name_checkable = has_name & (name_end <= n)
    last = f.b[np.minimum(name_end - 1, len(f.b) - 1)]
    out["non_null_terminated_read_name"] = name_checkable & (last != 0)

    # non-ASCII name chars: scan min(l_name-1, CAP) chars vectorially;
    # the rare longer all-clean prefixes are confirmed in Python
    scan_idx = np.flatnonzero(name_checkable & (l_name > 1))
    if scan_idx.size:
        lens_scan = np.minimum(l_name[scan_idx] - 1, _GATHER_CAP)
        gather = ranges_concat(o[scan_idx] + _FIXED, lens_scan)
        bad = ~_NAME_OK[f.b[gather]]
        seg = np.repeat(np.arange(scan_idx.size), lens_scan)
        any_bad = np.bincount(seg, weights=bad, minlength=scan_idx.size) > 0
        res = any_bad
        # prefix clean but name longer than CAP → confirm in Python
        unresolved = np.flatnonzero(~any_bad & (l_name[scan_idx] - 1 > _GATHER_CAP))
        for j in unresolved:
            oo = int(o[scan_idx[j]])
            ln = int(l_name[scan_idx[j]])
            name = f.b[oo + _FIXED : oo + _FIXED + ln - 1]
            res[j] = bool((~_NAME_OK[name]).any())
        out["non_ascii_read_name"][scan_idx] = res

    cigar_start = o + _FIXED + l_name
    has_cigar = n_cigar > 0
    cigar_end = cigar_start + 4 * n_cigar
    out["too_few_bytes_for_cigar_ops"] = has_cigar & (cigar_end > n)
    cig_checkable = np.flatnonzero(has_cigar & (cigar_end <= n))
    if cig_checkable.size:
        nops = np.minimum(n_cigar[cig_checkable], _GATHER_CAP)
        gather = ranges_concat(cigar_start[cig_checkable], 4 * nops)
        words = f.b[gather].copy().view("<u4")
        bad_op = (words & 0xF) > 8
        seg = np.repeat(np.arange(cig_checkable.size), nops)
        any_bad = np.bincount(seg, weights=bad_op, minlength=cig_checkable.size) > 0
        res = any_bad
        unresolved = np.flatnonzero(~any_bad & (n_cigar[cig_checkable] > _GATHER_CAP))
        for j in unresolved:
            oo = int(cigar_start[cig_checkable[j]])
            k = int(n_cigar[cig_checkable[j]])
            w = f.b[oo : oo + 4 * k].copy().view("<u4")
            res[j] = bool(((w & 0xF) > 8).any())
        out["invalid_cigar_op"][cig_checkable] = res

    # record_flags returns ONLY too_few_fixed_block_bytes when the fixed
    # fields don't fit — zero out everything else at those positions
    for k in FLAG_NAMES:
        if k != "too_few_fixed_block_bytes":
            out[k] &= ~too_few
    return out


def ranges_concat(starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Flat index array concatenating [s_i, s_i + len_i) ranges — the
    segment gather behind every variable-length field the prescreen
    reads.

    Built as repeat(per-segment base) + arange: both are vectorizable
    output-sized passes, ~12× faster than an output-sized ``cumsum``
    (whose loop-carried dependency defeats SIMD)."""
    starts = starts.astype(np.int64, copy=False)
    lengths = lengths.astype(np.int64, copy=False)
    nz = lengths > 0
    if not nz.all():
        starts, lengths = starts[nz], lengths[nz]
    if len(starts) == 0:
        return np.empty(0, dtype=np.int64)
    # int32 output when the buffer is small enough (it always is for a
    # per-block window): halves repeat/gather memory traffic
    dt = np.int32 if (starts[-1] + lengths[-1]) < (1 << 31) else np.int64
    ends = np.cumsum(lengths)
    total = int(ends[-1])
    # element i of segment k lands at starts[k] + i; arange supplies the
    # global position, repeat rebases each segment to its own start
    base = np.repeat((starts - (ends - lengths)).astype(dt), lengths)
    base += np.arange(total, dtype=dt)
    return base
