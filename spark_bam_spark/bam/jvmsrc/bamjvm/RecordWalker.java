package bamjvm;

import java.io.IOException;
import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.FSDataInputStream;
import org.apache.hadoop.fs.FileSystem;
import org.apache.hadoop.fs.Path;

/**
 * The sequential record walk for one split, under the columnar
 * partition reader: for each of the split's byte ranges
 * (several for an indexed scan, one contiguous range otherwise), open
 * the window at the range's first block, re-sync on the first record
 * start (eager checker), then hop record starts via block_size under the
 * block-ownership rule.  See BamColumnarReader for the decode
 * contract.
 */
final class RecordWalker {
    private final BamDataSource.BamSplit split;
    private final Configuration conf;
    private final long[] los;
    private final long[] his;

    FSDataInputStream in;
    BamWindow win;
    // one decompressor for every range's window, freed in close()
    private final BgzfCodec inflater = BgzfCodec.decompressor();
    private int rangeIdx = 0;
    private boolean opened = false;
    private boolean rangeDone = false;
    private boolean allDone = false;
    private long u = -1;
    private int bi = 0;

    // set by advance(): current record's window offset, size, and owner
    int recOff;
    int recBlockSize;
    long curBlockStart;
    int curBlockUstart;

    // slide the window once >=4 MiB of it has been consumed: the copy
    // cost is a few hundred KiB of tail per 4 MiB walked (<10% of bytes
    // touched once more), and per-task memory stays O(lookahead)
    private static final long COMPACT_AFTER = 4L << 20;

    RecordWalker(BamDataSource.BamSplit split, Configuration conf) {
        this.split = split;
        this.conf = conf;
        if (split.rangeLo != null) {
            this.los = split.rangeLo;
            this.his = split.rangeHi;
        } else {
            this.los = new long[] {split.start};
            this.his = new long[] {split.end};
        }
    }

    private void openRange() throws IOException {
        opened = true;
        rangeDone = false;
        long lo = los[rangeIdx];
        long hi = his[rangeIdx];
        if (hi <= lo) {
            rangeDone = true;
            return;
        }
        if (in == null) {
            Path p = new Path(split.path);
            FileSystem fs = p.getFileSystem(conf);
            in = fs.open(p);
        }
        win = new BamWindow(in, lo, inflater);
        if (win.empty) {
            rangeDone = true;
            return;
        }
        if (lo == 0) {
            u = win.offsetOf(split.header.endBlockPos, split.header.endOffset);
        } else {
            win.ensure(4L * Bgzf.MAX_BLOCK_SIZE); // lookahead for successor checks
            u = Checker.findRecordStart(win, 0, split.header, split.readsToCheck, split.maxReadSize);
            if (u < 0) {
                rangeDone = true;
                return;
            }
        }
        bi = 0;
        while (bi + 1 < win.nBlocks && u >= win.blockUstarts[bi + 1]) {
            bi++;
        }
        if (win.blockStarts[bi] >= hi) {
            rangeDone = true; // window's first block already belongs past the range
        }
    }

    /**
     * Position on the next owned record; false at split end.  Throws on
     * corrupt data in failfast mode; permissive mode salvages the records
     * already served, drops the rest of the CURRENT range, and moves on
     * to the split's next range.
     */
    boolean advance() throws IOException {
        while (true) {
            try {
                if (allDone) {
                    return false;
                }
                if (!opened) {
                    openRange();
                }
                if (!rangeDone && step()) {
                    return true;
                }
            } catch (IOException e) {
                if (!split.permissive) {
                    throw e;
                }
            } catch (RuntimeException e) {
                // belt-and-braces: step() validates record layout before
                // decode, so decode itself stays in-bounds — but permissive
                // mode must salvage even an unanticipated decode-side
                // runtime failure rather than kill the task
                if (!split.permissive) {
                    throw e;
                }
            }
            rangeIdx++;
            opened = false;
            if (rangeIdx >= los.length) {
                allDone = true;
                return false;
            }
        }
    }

    private boolean step() throws IOException {
        long rangeEnd = his[rangeIdx];
        if (u > COMPACT_AFTER) {
            u -= win.compactBefore((int) u);
            bi = win.blockIndexOf((int) u);
        }
        byte[] b = win.buf;
        if (u + 4 > win.len) {
            win.ensure(u + (256L << 10));
            b = win.buf;
            if (u + 4 > win.len) {
                return false; // clean EOF or dangling partial length int
            }
        }
        if (bi + 1 < win.nBlocks && u >= win.blockUstarts[bi + 1]) {
            while (bi + 1 < win.nBlocks && u >= win.blockUstarts[bi + 1]) {
                bi++;
            }
            if (win.blockStarts[bi] >= rangeEnd) {
                return false; // first record past the range — not ours
            }
        }
        int o = (int) u;
        int blockSize = Bgzf.i32(b, o);
        if (blockSize < 32) {
            throw new IOException("truncated/invalid record at " + u);
        }
        long nxt = u + 4 + blockSize;
        if (nxt > win.len) {
            win.ensure(nxt + (256L << 10));
            b = win.buf;
            if (nxt > win.len) {
                throw new IOException("truncated/invalid record at " + u);
            }
        }
        // The decoders trust the derived layout offsets, so a corrupt
        // record that passed blockSize>=32 must be rejected HERE as an
        // IOException (which permissive mode salvages) rather than
        // surfacing as an out-of-bounds decode failing the task: the
        // fixed fields + qname + cigar + packed seq + qual must fit
        // inside the record.
        int lName = b[o + 12] & 0xFF;
        int nCigar = Bgzf.u16(b, o + 16);
        int lSeq = Bgzf.i32(b, o + 20);
        if (lSeq < 0 || 32L + lName + 4L * nCigar + (lSeq + 1L) / 2L + lSeq > blockSize) {
            throw new IOException("corrupt record layout at " + u);
        }
        recOff = o;
        recBlockSize = blockSize;
        curBlockStart = win.blockStarts[bi];
        curBlockUstart = win.blockUstarts[bi];
        u = nxt;
        return true;
    }

    void close() throws IOException {
        win = null;
        inflater.close();
        if (in != null) {
            in.close();
        }
    }
}
