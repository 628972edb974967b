"""Record-boundary validity predicates over uncompressed BAM bytes.

The product-defining idea of the reference: a position in the uncompressed
stream is a record boundary iff a presumptive record parses with every
field in-bounds, AND the implied successor positions also parse, for
``reads_to_check`` consecutive records (or until EOF).

Parity targets (cited, not copied):
- eager short-circuit checker: check/.../eager/Checker.scala:26-128
- ref idx/pos bounds:          check/.../PosChecker.scala:43-63
- full 19-flag checker:        check/.../full/Checker.scala:17-186,
                               flags check/.../full/error/Flags.scala:21-45
- record-start search:         check/.../spark/FindRecordStart.scala:9-63
- defaults readsToCheck=10, maxReadSize=1e8: check/.../check/package.scala:17,28
"""

from __future__ import annotations

import bisect
import struct
from dataclasses import dataclass

from spark_bam_spark.bam import bgzf

DEFAULT_READS_TO_CHECK = 10
DEFAULT_MAX_READ_SIZE = 100_000_000
_FIXED = 36  # block_size int + 32 bytes of fixed fields


@dataclass(frozen=True)
class HeaderInfo:
    """Contig dictionary from the BAM header (ContigLengths.scala:50)."""

    contig_lengths: tuple[int, ...]

    @property
    def n_refs(self) -> int:
        return len(self.contig_lengths)


# Flags field names follow the reference's Flags struct
# (check/.../full/error/Flags.scala:21-41).
FLAG_NAMES = (
    "too_few_fixed_block_bytes",
    "negative_read_idx",
    "too_large_read_idx",
    "negative_read_pos",
    "too_large_read_pos",
    "negative_next_read_idx",
    "too_large_next_read_idx",
    "negative_next_read_pos",
    "too_large_next_read_pos",
    "too_few_bytes_for_read_name",
    "non_null_terminated_read_name",
    "non_ascii_read_name",
    "no_read_name",
    "empty_read_name",
    "too_few_bytes_for_cigar_ops",
    "invalid_cigar_op",
    "empty_mapped_cigar",
    "empty_mapped_seq",
    "too_few_remaining_bytes_implied",
)


def _name_char_ok(b: int) -> bool:
    # ASCII subset `[!-?A-~]` (Checker.scala:11-16)
    return 0x21 <= b <= 0x3F or 0x41 <= b <= 0x7E


def record_flags(buf: bytes, o: int, hdr: HeaderInfo) -> dict[str, bool]:
    """Full checker for ONE presumptive record: evaluate every check,
    collect all failures (full/Checker.scala:17-186)."""
    flags = dict.fromkeys(FLAG_NAMES, False)
    n = len(buf)
    if n - o < _FIXED:
        flags["too_few_fixed_block_bytes"] = True
        return flags
    block_size, ref_idx, pos = struct.unpack_from("<iii", buf, o)
    l_name = buf[o + 12]
    n_cigar, flag = struct.unpack_from("<HH", buf, o + 16)
    (l_seq,) = struct.unpack_from("<i", buf, o + 20)
    mate_ref, mate_pos = struct.unpack_from("<ii", buf, o + 24)

    def pos_errs(idx: int, p: int, neg_i: str, big_i: str, neg_p: str, big_p: str) -> None:
        # exact RefPosError decision tree (full/error/RefPosError.scala:7-33,
        # PosChecker.scala:43-63): cases are mutually exclusive except the
        # combined NegativeRefIdxAndPos / TooLargeRefIdxNegativePos pairs;
        # too-large-pos means strictly pos > contig_length
        if idx < -1:
            flags[neg_i] = True
            if p < -1:
                flags[neg_p] = True
        elif idx >= hdr.n_refs:
            flags[big_i] = True
            if p < -1:
                flags[neg_p] = True
        elif p < -1:
            flags[neg_p] = True
        elif idx >= 0 and p > hdr.contig_lengths[idx]:
            flags[big_p] = True

    pos_errs(ref_idx, pos, "negative_read_idx", "too_large_read_idx", "negative_read_pos", "too_large_read_pos")
    pos_errs(
        mate_ref,
        mate_pos,
        "negative_next_read_idx",
        "too_large_next_read_idx",
        "negative_next_read_pos",
        "too_large_next_read_pos",
    )

    unmapped = bool(flag & 0x4)
    if l_name == 0:
        flags["no_read_name"] = True
    elif l_name == 1:
        flags["empty_read_name"] = True
    if not unmapped:
        if n_cigar == 0:
            flags["empty_mapped_cigar"] = True
        if l_seq == 0:
            flags["empty_mapped_seq"] = True

    implied = 32 + l_name + 4 * n_cigar + (l_seq + 1) // 2 + l_seq
    if block_size < implied:
        flags["too_few_remaining_bytes_implied"] = True

    name_start = o + _FIXED
    if l_name > 0:
        if name_start + l_name > n:
            flags["too_few_bytes_for_read_name"] = True
        else:
            name = buf[name_start : name_start + l_name]
            if name[-1] != 0:
                flags["non_null_terminated_read_name"] = True
            if any(not _name_char_ok(b) for b in name[:-1]):
                flags["non_ascii_read_name"] = True

    cigar_start = name_start + l_name
    if n_cigar > 0:
        if cigar_start + 4 * n_cigar > n:
            flags["too_few_bytes_for_cigar_ops"] = True
        else:
            for i in range(n_cigar):
                (v,) = struct.unpack_from("<I", buf, cigar_start + 4 * i)
                if (v & 0xF) > 8:
                    flags["invalid_cigar_op"] = True
                    break
    return flags


def _check_one(buf: bytes, o: int, hdr: HeaderInfo, max_read_size: int) -> int | None:
    """Eager short-circuit check of one record; returns the next record's
    offset on success, None on any failure (eager/Checker.scala:26-128)."""
    n = len(buf)
    if n - o < _FIXED:
        return None
    block_size, ref_idx, pos = struct.unpack_from("<iii", buf, o)
    if block_size < 32 or block_size + 4 > max_read_size:
        return None
    if not (-1 <= ref_idx < hdr.n_refs):
        return None
    if pos < -1:
        return None
    # strictly > (PosChecker.scala:59); ref_idx==-1 with pos>=0 is NOT
    # rejected by the reference — parity over intuition
    if ref_idx >= 0 and pos > hdr.contig_lengths[ref_idx]:
        return None
    mate_ref, mate_pos = struct.unpack_from("<ii", buf, o + 24)
    if not (-1 <= mate_ref < hdr.n_refs):
        return None
    if mate_pos < -1:
        return None
    if mate_ref >= 0 and mate_pos > hdr.contig_lengths[mate_ref]:
        return None
    l_name = buf[o + 12]
    if l_name <= 1:
        return None
    n_cigar, flag = struct.unpack_from("<HH", buf, o + 16)
    (l_seq,) = struct.unpack_from("<i", buf, o + 20)
    if l_seq < 0:
        return None
    unmapped = bool(flag & 0x4)
    if not unmapped and (n_cigar == 0 or l_seq == 0):
        return None
    implied = 32 + l_name + 4 * n_cigar + (l_seq + 1) // 2 + l_seq
    if block_size < implied:
        return None
    name_start = o + _FIXED
    if name_start + l_name <= n:
        name = buf[name_start : name_start + l_name]
        if name[-1] != 0 or any(not _name_char_ok(b) for b in name[:-1]):
            return None
    cigar_start = name_start + l_name
    if n_cigar > 0 and cigar_start + 4 * n_cigar <= n:
        for i in range(n_cigar):
            (v,) = struct.unpack_from("<I", buf, cigar_start + 4 * i)
            if (v & 0xF) > 8:
                return None
    return o + 4 + block_size


def check_record_start(
    buf: bytes,
    o: int,
    hdr: HeaderInfo,
    reads_to_check: int = DEFAULT_READS_TO_CHECK,
    max_read_size: int = DEFAULT_MAX_READ_SIZE,
    ensure=None,
) -> bool:
    """Eager validity predicate: ``reads_to_check`` consecutive records
    parse from ``o`` (EOF short of the count is success — eager:38-43).

    ``ensure(nbytes)``: optional callback that extends ``buf`` in place
    (``buf`` must then be a growable bytearray, e.g. a block window). With
    it, a presumptive record extending past the current window triggers a
    window extension instead of blind acceptance; if the window cannot
    grow (true file EOF) the mid-record-EOF position is REJECTED — the
    reference treats a record extending past EOF as failure. Without
    ``ensure`` the window is taken as a hard horizon and the historical
    accept-on-overflow applies (fixed-lookahead sweeps)."""
    for _ in range(reads_to_check):
        if ensure is not None:
            ensure(o + _FIXED)  # window end is not EOF until it can't grow
        n = len(buf)
        if o == n:
            return True  # clean EOF
        nxt = _check_one(buf, o, hdr, max_read_size)
        if nxt is None:
            return False
        if nxt > n:
            if ensure is None:
                # record extends past the window; every in-window check passed
                return True
            ensure(nxt)
            if nxt > len(buf):
                return False  # extends past true EOF: mid-record EOF fails
            # window grew: re-validate this record with the full bytes
            if _check_one(buf, o, hdr, max_read_size) is None:
                return False
        o = nxt
    return True


def full_check(
    buf: bytes,
    o: int,
    hdr: HeaderInfo,
    reads_to_check: int = DEFAULT_READS_TO_CHECK,
    max_read_size: int = DEFAULT_MAX_READ_SIZE,
) -> tuple[dict[str, bool] | None, int]:
    """Diagnostic checker: (flags-of-first-failing-record | None,
    reads_before_error) (full/Checker.scala; Flags.readsBeforeError)."""
    n = len(buf)
    pos = o
    for i in range(reads_to_check):
        if pos >= n:
            return None, i
        nxt = _check_one(buf, pos, hdr, max_read_size)
        if nxt is None:
            return record_flags(buf, pos, hdr), i
        pos = nxt
    return None, reads_to_check


def find_record_start(
    buf: bytes,
    from_off: int,
    hdr: HeaderInfo,
    max_search: int = DEFAULT_MAX_READ_SIZE,
    reads_to_check: int = DEFAULT_READS_TO_CHECK,
    max_read_size: int = DEFAULT_MAX_READ_SIZE,
    ensure=None,
) -> int | None:
    """Probe successive offsets until the eager predicate passes
    (FindRecordStart.scala:30-63). ``ensure`` is threaded to the checker
    so candidate records spanning the window edge extend it.

    The candidate horizon is recomputed from ``len(buf)`` every
    iteration (r13 ADVICE): with a growable window, the checker's own
    ``ensure`` calls extend ``buf`` as candidates approach its edge, so
    the walk continues past the caller's pre-ensured span all the way to
    ``from_off + max_search`` or true EOF — the same unbounded-up-to-
    max_search question the DuckDB oracle answers.  With an immutable
    ``bytes`` buffer (no ``ensure``) ``len(buf)`` never changes and the
    behavior is identical to the historical fixed-limit loop."""
    cand = from_off
    while cand <= min(len(buf), from_off + max_search):
        if check_record_start(buf, cand, hdr, reads_to_check, max_read_size, ensure=ensure):
            return cand
        cand += 1
    return None


class _Window:
    """Lazily-extended uncompressed window over the block stream, starting
    at the first BGZF block at/after byte offset ``start`` of the open
    file ``f`` — the engine's SeekableUncompressedBytes
    (bgzf/.../block/UncompressedBytes.scala:13-81).  ``ensure`` is the
    callback :func:`find_record_start` threads to the checker, so a
    candidate record spanning the window edge grows the window."""

    def __init__(self, f, start: int) -> None:
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
            rel = bgzf.find_block_start(f.read(bgzf.MAX_BLOCK_SIZE * 2), 0)
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
        head = self.f.read(bgzf.MAX_BLOCK_SIZE)
        if len(head) < bgzf.BGZF_HEADER_LEN:
            self._exhausted = True
            return False
        bsize = bgzf.parse_block_header(head)
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

    def to_pos(self, u: int) -> bgzf.Pos:
        """Virtual position of window offset ``u``."""
        i = bisect.bisect_right(self.block_ustarts, u) - 1
        return bgzf.Pos(self.block_starts[i], u - self.block_ustarts[i])


def _check_one_upstream(buf: bytes, o: int, hdr: HeaderInfo, max_read_size: int, anchor: bool) -> int | None:
    """One-record check with the UPSTREAM (hadoop-bam-documented) subset of
    validations — per the reference's checks table (docs/motivation.md:36-52):
    no locus-upper-bound check, no name-non-empty/chars checks, no
    mapped-empty-cigar/seq check, and cigar-op validity skipped for the
    anchor record. Written from the documented table, not upstream code."""
    n = len(buf)
    if n - o < _FIXED:
        return None
    block_size, ref_idx, pos = struct.unpack_from("<iii", buf, o)
    if block_size < 32 or block_size + 4 > max_read_size:
        return None
    if not (-1 <= ref_idx < hdr.n_refs):
        return None
    if pos < -1:
        return None  # negative locus only; no too-large-locus check
    mate_ref, mate_pos = struct.unpack_from("<ii", buf, o + 24)
    if not (-1 <= mate_ref < hdr.n_refs):
        return None
    if mate_pos < -1:
        return None
    l_name = buf[o + 12]
    if l_name < 1:
        return None  # length present; emptiness/charset NOT checked
    n_cigar, flag = struct.unpack_from("<HH", buf, o + 16)
    (l_seq,) = struct.unpack_from("<i", buf, o + 20)
    if l_seq < 0:
        return None
    implied = 32 + l_name + 4 * n_cigar + (l_seq + 1) // 2 + l_seq
    if block_size < implied:
        return None
    name_start = o + _FIXED
    if l_name > 0 and name_start + l_name <= n and buf[name_start + l_name - 1] != 0:
        return None  # null-termination IS checked upstream
    cigar_start = name_start + l_name
    if not anchor and n_cigar > 0 and cigar_start + 4 * n_cigar <= n:
        for i in range(n_cigar):
            (v,) = struct.unpack_from("<I", buf, cigar_start + 4 * i)
            if (v & 0xF) > 8:
                return None
    return o + 4 + block_size


def check_record_start_upstream(
    buf: bytes,
    o: int,
    hdr: HeaderInfo,
    reads_to_check: int = DEFAULT_READS_TO_CHECK,
    max_read_size: int = DEFAULT_MAX_READ_SIZE,
) -> bool:
    """Upstream-emulating validity predicate (P6, seqdoop/.../Checker.scala:37-52
    as behavior; checks per docs/motivation.md table). Strictly weaker than
    check_record_start — any position it rejects, the eager checker rejects."""
    n = len(buf)
    pos = o
    for i in range(reads_to_check):
        if pos == n:
            return True
        nxt = _check_one_upstream(buf, pos, hdr, max_read_size, anchor=(i == 0))
        if nxt is None:
            return False
        if nxt > n:
            return True
        pos = nxt
    return True
