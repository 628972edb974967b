package bamjvm;

import java.io.FileNotFoundException;
import java.io.IOException;
import java.util.ArrayList;
import java.util.HashMap;
import java.util.List;
import java.util.Map;
import org.apache.hadoop.fs.FSDataInputStream;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FileSystem;
import org.apache.hadoop.fs.Path;
import org.slf4j.Logger;
import org.slf4j.LoggerFactory;

/**
 * BAI index parser + interval query planning — public SAM spec §5.2
 * (binning) / §5.3 (reg2bins pseudo-code), the JVM twin of the engine's
 * Python bam/bai.py (parse_bai / query_chunks).  Reference behavior
 * parity (cited, not copied): check/.../index/Read.scala:14-114 and the
 * chunk planning in Intervals.scala:171-207.
 */
final class Bai {
    static final int LINEAR_SHIFT = 14;
    static final int METADATA_BIN = 37450;
    private static final Logger LOG = LoggerFactory.getLogger(Bai.class);

    /** per reference: bin id -> chunks as {startVoffset, endVoffset} */
    final List<Map<Integer, List<long[]>>> bins;
    final List<long[]> linear;

    private Bai(List<Map<Integer, List<long[]>>> bins, List<long[]> linear) {
        this.bins = bins;
        this.linear = linear;
    }

    /**
     * The {@code .bai} of {@code bam}, or null when it has none or when
     * the index fails a check and so cannot be trusted to prune:
     * <ul>
     *   <li>it is older than the .bam (htslib warns "The index file is
     *       older than the data file" for the same case);
     *   <li>its reference count is not the header's {@code nRefs};
     *   <li>a chunk or linear-index offset lies past the .bam's end;
     *   <li>it does not parse (bad magic, truncated).
     * </ul>
     * A failed check logs one warning naming the index and the check, and
     * the caller plans the file unpruned, as if there were no index.
     */
    static Bai forBam(FileSystem fs, FileStatus bam, int nRefs) {
        Path path = new Path(bam.getPath().toString() + ".bai");
        try {
            FileStatus st = fs.getFileStatus(path);
            if (st.getModificationTime() < bam.getModificationTime()) {
                throw new IOException("older than its .bam");
            }
            return parse(fs, st, nRefs, bam.getLen());
        } catch (FileNotFoundException e) {
            return null;
        } catch (IOException e) {
            LOG.warn("{} not used, {} is scanned whole: {}", path, bam.getPath(), e.getMessage());
            return null;
        }
    }

    private static Bai parse(FileSystem fs, FileStatus st, int nRefs, long bamLen)
            throws IOException {
        byte[] buf = new byte[(int) st.getLen()];
        try (FSDataInputStream in = fs.open(st.getPath())) {
            in.readFully(0, buf);
        }
        if (buf.length < 8 || buf[0] != 'B' || buf[1] != 'A' || buf[2] != 'I' || buf[3] != 1) {
            throw new IOException("not a BAI file");
        }
        int nRef = Bgzf.i32(buf, 4);
        if (nRef != nRefs) {
            throw new IOException("it indexes " + nRef + " references, the header has " + nRefs);
        }
        int o = 8;
        List<Map<Integer, List<long[]>>> bins = new ArrayList<>(nRef);
        List<long[]> linear = new ArrayList<>(nRef);
        for (int r = 0; r < nRef; r++) {
            int nBin = count(buf, o, 8);
            o += 4;
            Map<Integer, List<long[]>> bmap = new HashMap<>();
            for (int bI = 0; bI < nBin; bI++) {
                int bin = Bgzf.i32(buf, o);
                int nChunk = count(buf, o + 4, 16);
                o += 8;
                List<long[]> chunks = new ArrayList<>(nChunk);
                for (int c = 0; c < nChunk; c++) {
                    long[] chunk = {i64(buf, o), i64(buf, o + 8)};
                    // the metadata pseudo-bin's second "chunk" holds read
                    // counts, not offsets
                    if (bin != METADATA_BIN) {
                        inFile(chunk[0], bamLen);
                        inFile(chunk[1], bamLen);
                    }
                    chunks.add(chunk);
                    o += 16;
                }
                bmap.put(bin, chunks);
            }
            int nIntv = count(buf, o, 8);
            o += 4;
            long[] lin = new long[nIntv];
            for (int i = 0; i < nIntv; i++) {
                lin[i] = inFile(i64(buf, o), bamLen);
                o += 8;
            }
            bins.add(bmap);
            linear.add(lin);
        }
        return new Bai(bins, linear);
    }

    /** The i32 count at {@code o}, checked so that its items of
     *  {@code width} bytes fit in what is left of the index. */
    private static int count(byte[] b, int o, int width) throws IOException {
        int n = o + 4 <= b.length ? Bgzf.i32(b, o) : -1;
        if (n < 0 || (long) n * width > b.length - o - 4L) {
            throw new IOException("truncated");
        }
        return n;
    }

    private static long inFile(long voffset, long bamLen) throws IOException {
        if (voffset >>> 16 > bamLen) {
            throw new IOException("offset " + (voffset >>> 16) + " is past the end of the "
                    + bamLen + "-byte .bam");
        }
        return voffset;
    }

    private static long i64(byte[] b, int o) {
        return (Bgzf.i32(b, o) & 0xFFFFFFFFL) | ((long) Bgzf.i32(b, o + 4) << 32);
    }

    /** All bins that may overlap [beg, end) — spec §5.3. */
    static List<Integer> reg2bins(long beg, long end) {
        List<Integer> out = new ArrayList<>();
        out.add(0);
        end -= 1;
        int[][] levels = {{26, 1}, {23, 9}, {20, 73}, {17, 585}, {14, 4681}};
        for (int[] lv : levels) {
            int shift = lv[0];
            int base = lv[1];
            for (long b = base + (beg >> shift); b <= base + (end >> shift); b++) {
                out.add((int) b);
            }
        }
        return out;
    }

    /**
     * Interval → candidate chunks: overlapping bins' chunks, floored by
     * the 16 KiB linear index, merged and sorted.
     */
    List<long[]> queryChunks(int refIdx, long beg, long end) {
        List<long[]> out = new ArrayList<>();
        if (refIdx < 0 || refIdx >= bins.size()) {
            return out;
        }
        long[] lin = linear.get(refIdx);
        long minOff = 0;
        int w = (int) (beg >> LINEAR_SHIFT);
        if (w < lin.length) {
            minOff = lin[w];
        }
        Map<Integer, List<long[]>> bmap = bins.get(refIdx);
        for (int b : reg2bins(beg, end)) {
            List<long[]> chunks = bmap.get(b);
            if (chunks == null) {
                continue;
            }
            for (long[] c : chunks) {
                if (c[1] > minOff || (b != METADATA_BIN && minOff == 0)) {
                    out.add(c);
                }
            }
        }
        out.sort((a, b) -> {
            int c = Long.compare(a[0], b[0]);
            return c != 0 ? c : Long.compare(a[1], b[1]);
        });
        List<long[]> merged = new ArrayList<>();
        for (long[] c : out) {
            if (!merged.isEmpty() && c[0] <= merged.get(merged.size() - 1)[1]) {
                long[] last = merged.get(merged.size() - 1);
                if (c[1] > last[1]) {
                    last[1] = c[1];
                }
            } else {
                merged.add(new long[] {c[0], c[1]});
            }
        }
        return merged;
    }
}
