package bamjvm;

import java.io.IOException;
import java.util.zip.DataFormatException;
import org.apache.hadoop.fs.FSDataInputStream;

/**
 * BGZF block layer, JVM side — same behavior contract as the engine's
 * Python implementation (spark_bam_spark/bam/bgzf.py) and the public
 * SAM/BAM spec §4.1: gzip members carrying a BC extra subfield with the
 * compressed block size.  The payloads are inflated by {@link BgzfCodec}:
 * libdeflate when its JNI shim loads, else {@code java.util.zip}.  The
 * Python module stays on zlib and serves as the independent decoder.
 * {@link Reader} is the only code in the jar that reads BGZF bytes.
 * Reference behavior parity (cited, not copied): header parse
 * bgzf/.../block/Header.scala:48-83, block-start search
 * FindBlockStart.scala:8-37.
 */
final class Bgzf {
    static final int MAX_BLOCK_SIZE = 64 * 1024;
    static final int HEADER_LEN = 18;
    static final int FOOTER_LEN = 8;
    static final int BLOCKS_TO_CHECK = 5;

    private Bgzf() {}

    static int u16(byte[] b, int off) {
        return (b[off] & 0xFF) | ((b[off + 1] & 0xFF) << 8);
    }

    static int i32(byte[] b, int off) {
        return (b[off] & 0xFF)
                | ((b[off + 1] & 0xFF) << 8)
                | ((b[off + 2] & 0xFF) << 16)
                | ((b[off + 3] & 0xFF) << 24);
    }

    /**
     * Total compressed size of the BGZF block starting at buf[off], or -1
     * if no valid header starts there.  {@code n} bounds the valid bytes.
     */
    static int parseBlockHeader(byte[] buf, int off, int n) {
        if (n - off < HEADER_LEN) {
            return -1;
        }
        if ((buf[off] & 0xFF) != 0x1F
                || (buf[off + 1] & 0xFF) != 0x8B
                || buf[off + 2] != 8
                || buf[off + 3] != 4) {
            return -1;
        }
        int xlen = u16(buf, off + 10);
        if (n - off < 12 + xlen) {
            return -1;
        }
        int p = off + 12;
        int end = off + 12 + xlen;
        while (p + 4 <= end) {
            int si1 = buf[p] & 0xFF;
            int si2 = buf[p + 1] & 0xFF;
            int slen = u16(buf, p + 2);
            if (si1 == 66 && si2 == 67 && slen == 2) {
                if (p + 6 > end) {
                    return -1;
                }
                int bsize = u16(buf, p + 4) + 1;
                if (bsize < 12 + xlen + FOOTER_LEN || bsize > MAX_BLOCK_SIZE) {
                    return -1;
                }
                return bsize;
            }
            p += 4 + slen;
        }
        return -1;
    }

    /**
     * Scan forward at most 64 KiB for an offset where BLOCKS_TO_CHECK
     * consecutive block headers parse; fewer consecutive checks are
     * accepted when the buffer ends first or the chain reaches an ISIZE-0
     * (EOF) block, so bytes after the EOF block are never parsed.
     * Returns -1 if none found.
     */
    static int findBlockStart(byte[] buf, int n, int searchFrom) {
        int limit = Math.min(n, searchFrom + MAX_BLOCK_SIZE);
        for (int cand = searchFrom; cand < limit; cand++) {
            if ((buf[cand] & 0xFF) != 0x1F) {
                continue;
            }
            if (cand + 4 > n
                    || (buf[cand + 1] & 0xFF) != 0x8B
                    || buf[cand + 2] != 8
                    || buf[cand + 3] != 4) {
                continue;
            }
            int p = cand;
            int ok = 0;
            while (ok < BLOCKS_TO_CHECK) {
                int bsize = parseBlockHeader(buf, p, n);
                if (bsize < 0) {
                    if (ok > 0 && n - p < HEADER_LEN) {
                        break; // ran off the buffer after >=1 good block
                    }
                    ok = -1;
                    break;
                }
                ok++;
                if (p + bsize <= n && i32(buf, p + bsize - 4) == 0) {
                    break; // the EOF block ends the stream
                }
                p += bsize;
            }
            if (ok >= 1) {
                return cand;
            }
        }
        return -1;
    }

    /**
     * Inflate one block's deflate payload into {@code out[outOff..]};
     * returns the uncompressed size.  Both footer fields are validated —
     * ISIZE and the CRC32 of the uncompressed data (r11: a flipped
     * payload bit that still inflates to the right length would
     * otherwise decode silently; htslib validates the same way, and the
     * JDK CRC32 is hardware-accelerated, far cheaper than the inflate).
     * The checks and their messages are the same on the libdeflate and
     * the {@code java.util.zip} path of {@code codec}.
     */
    static int inflateBlock(BgzfCodec codec, byte[] block, int bsize, byte[] out, int outOff)
            throws IOException {
        int xlen = u16(block, 10);
        int payloadOff = 12 + xlen;
        int payloadLen = bsize - FOOTER_LEN - payloadOff;
        long crc = i32(block, bsize - 8) & 0xFFFFFFFFL;
        long isize = i32(block, bsize - 4) & 0xFFFFFFFFL;
        int produced;
        try {
            produced = codec.inflate(block, payloadOff, payloadLen, out, outOff, out.length - outOff);
        } catch (DataFormatException e) {
            throw new IOException("corrupt BGZF deflate payload", e);
        }
        if (produced != isize) {
            throw new IOException("BGZF ISIZE mismatch: " + produced + " != " + isize);
        }
        java.util.zip.CRC32 check = new java.util.zip.CRC32();
        check.update(out, outOff, produced);
        if (check.getValue() != crc) {
            throw new IOException("BGZF CRC32 mismatch: corrupt block payload");
        }
        return produced;
    }

    /**
     * Sequential block reader over one open stream — the reference's
     * block Stream (bgzf/.../block/Stream.scala; cited, not copied).  It
     * starts at the first block at/after an offset and reads each next
     * block exactly once: its 18-byte header (plus any extra subfields),
     * then the rest of its {@code bsize} bytes.  A short read, a header
     * that does not parse, or the ISIZE-0 EOF block ends the stream
     * quietly, so trailing garbage and a cut last block are tolerated.
     * The caller keeps ownership of the stream.
     */
    static final class Reader {
        private final FSDataInputStream in;
        /** The block last returned by {@link #next}, in [0, bsize). */
        final byte[] block = new byte[MAX_BLOCK_SIZE];
        /** Compressed offset of the block the next {@link #next} reads. */
        long pos;
        /** Set at the end of the stream, and by {@link BamWindow#release}. */
        boolean done = false;

        /**
         * Position on the first block at/after {@code start}: {@code
         * start == 0} is trusted; otherwise a 128 KiB probe finds the
         * next block boundary, and none within 64 KiB means no blocks.
         */
        Reader(FSDataInputStream in, long start) throws IOException {
            this.in = in;
            in.seek(start);
            if (start != 0) {
                byte[] probe = new byte[MAX_BLOCK_SIZE * 2];
                int got = read(probe, 0, probe.length);
                int rel = got <= 0 ? -1 : findBlockStart(probe, got, 0);
                if (rel < 0) {
                    done = true;
                    return;
                }
                start += rel;
                in.seek(start);
            }
            pos = start;
        }

        /**
         * Read the block at {@link #pos} into {@link #block} and return
         * its compressed size, or -1 at the end of the stream.  A
         * returned block's ISIZE is never 0.
         */
        int next() throws IOException {
            if (done) {
                return -1;
            }
            int got = read(block, 0, HEADER_LEN);
            int hlen = 12 + u16(block, 10);
            if (got == HEADER_LEN && hlen > HEADER_LEN && hlen <= MAX_BLOCK_SIZE) {
                got += read(block, got, hlen - got); // extra subfields besides BC
            }
            int bsize = parseBlockHeader(block, 0, got);
            if (bsize < 0 || read(block, got, bsize - got) < bsize - got
                    || i32(block, bsize - 4) == 0) {
                done = true;
                return -1;
            }
            pos += bsize;
            return bsize;
        }

        private int read(byte[] dst, int off, int want) throws IOException {
            int total = 0;
            while (total < want) {
                int got = in.read(dst, off + total, want - total);
                if (got <= 0) {
                    break;
                }
                total += got;
            }
            return total;
        }
    }
}
