package bamjvm;

import java.io.IOException;
import org.apache.hadoop.fs.FSDataInputStream;

/**
 * Lazily-extended uncompressed window over the BGZF block stream
 * starting at the first block at/after a byte offset — behaviorally the
 * reference's SeekableUncompressedBytes
 * (bgzf/.../block/UncompressedBytes.scala:13-81; cited, not copied).
 *
 * Blocks come from one {@link Bgzf.Reader}: the window reads its stream
 * sequentially and each block once, so it works against any
 * Hadoop-compatible filesystem.
 */
final class BamWindow {
    byte[] buf = new byte[1 << 20];
    int len = 0;
    long[] blockStarts = new long[64];
    int[] blockUstarts = new int[64];
    int nBlocks = 0;
    final boolean empty;

    private final Bgzf.Reader blocks;
    private final BgzfCodec inflater;
    private final boolean ownsInflater;

    /**
     * Open at the first BGZF block at/after {@code start} ({@code start
     * == 0} trusts the offset; otherwise a bounded forward scan finds the
     * next block boundary, and no boundary within 64 KiB means the range
     * is empty).  The window inflates with its own decompressor, freed by
     * {@link #release}.
     */
    BamWindow(FSDataInputStream in, long start) throws IOException {
        this(in, start, null);
    }

    /**
     * As above, inflating with {@code inflater} when it is non-null; the
     * caller keeps ownership of a borrowed decompressor, so one can serve
     * many windows in turn.
     */
    BamWindow(FSDataInputStream in, long start, BgzfCodec inflater) throws IOException {
        this.blocks = new Bgzf.Reader(in, start);
        this.ownsInflater = inflater == null;
        this.inflater = ownsInflater ? BgzfCodec.decompressor() : inflater;
        loadBlock();
        empty = nBlocks == 0;
    }

    /** Decompress the next block onto the window; false at stream end. */
    boolean loadBlock() throws IOException {
        long at = blocks.pos;
        int bsize = blocks.next();
        if (bsize < 0) {
            return false;
        }
        long isize = Bgzf.i32(blocks.block, bsize - 4) & 0xFFFFFFFFL;
        grow(len + (int) isize);
        int produced = Bgzf.inflateBlock(inflater, blocks.block, bsize, buf, len);
        if (nBlocks == blockStarts.length) {
            long[] ns = new long[nBlocks * 2];
            int[] nu = new int[nBlocks * 2];
            System.arraycopy(blockStarts, 0, ns, 0, nBlocks);
            System.arraycopy(blockUstarts, 0, nu, 0, nBlocks);
            blockStarts = ns;
            blockUstarts = nu;
        }
        blockStarts[nBlocks] = at;
        blockUstarts[nBlocks] = len;
        nBlocks++;
        len += produced;
        return true;
    }

    private void grow(int need) {
        if (need <= buf.length) {
            return;
        }
        int cap = buf.length;
        while (cap < need) {
            cap <<= 1;
        }
        byte[] nb = new byte[cap];
        System.arraycopy(buf, 0, nb, 0, len);
        buf = nb;
    }

    /** Extend the window until it holds at least {@code nbytes}. */
    void ensure(long nbytes) throws IOException {
        while (len < nbytes && loadBlock()) {
            // keep loading
        }
    }

    /**
     * Drop every whole block before the one owning {@code keepFrom} and
     * slide the retained bytes to the front; returns the number of bytes
     * cut (callers rebase their offsets by it).  Keeps the sequential
     * record walk at O(current block + lookahead) memory instead of
     * O(split) — the property that lets 32 concurrent 64 MiB-split tasks
     * fit in a default executor heap.
     */
    int compactBefore(int keepFrom) {
        int j = blockIndexOf(keepFrom);
        if (j == 0) {
            return 0;
        }
        int cut = blockUstarts[j];
        System.arraycopy(buf, cut, buf, 0, len - cut);
        len -= cut;
        for (int i = j; i < nBlocks; i++) {
            blockStarts[i - j] = blockStarts[i];
            blockUstarts[i - j] = blockUstarts[i] - cut;
        }
        nBlocks -= j;
        return cut;
    }

    /** Index of the block owning uncompressed offset {@code u}. */
    int blockIndexOf(int u) {
        int lo = 0;
        int hi = nBlocks - 1;
        while (lo < hi) {
            int mid = (lo + hi + 1) >>> 1;
            if (blockUstarts[mid] <= u) {
                lo = mid;
            } else {
                hi = mid - 1;
            }
        }
        return lo;
    }

    /**
     * Free the window's own decompressor (native memory the GC does not
     * see); a borrowed one stays with its owner.  Idempotent; the window
     * must not be used afterwards.
     */
    void release() {
        blocks.done = true;
        if (ownsInflater) {
            inflater.close();
        }
    }

    /**
     * Uncompressed window offset of a virtual position; loads blocks
     * until the target block is present.
     */
    int offsetOf(long blockPos, int inBlock) throws IOException {
        ensure(1);
        while (nBlocks > 0 && blockStarts[nBlocks - 1] < blockPos && loadBlock()) {
            // keep loading
        }
        for (int i = 0; i < nBlocks; i++) {
            if (blockStarts[i] == blockPos) {
                return blockUstarts[i] + inBlock;
            }
        }
        throw new IllegalStateException("block " + blockPos + " not in window");
    }
}
