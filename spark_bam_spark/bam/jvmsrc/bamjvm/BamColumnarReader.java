package bamjvm;

import java.io.IOException;
import java.nio.charset.StandardCharsets;
import org.apache.spark.sql.connector.read.PartitionReader;
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector;
import org.apache.spark.sql.execution.vectorized.WritableColumnVector;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.vectorized.ColumnarBatch;
import org.apache.spark.unsafe.types.UTF8String;

/**
 * The per-split BAM decoder: RecordWalker supplies record positions and
 * batches of 4096 records land directly in OnHeapColumnVectors, with only
 * the requested columns decoded.  Value semantics equal the pure-Python
 * decoder's (spark_bam_spark/bam/records.py decode_record); the
 * differential tests compare the two row for row.  This is the scan's
 * only decode path: every split reads columnar.
 */
final class BamColumnarReader implements PartitionReader<ColumnarBatch> {
    private static final int CAPACITY = 4096;

    private static final int FIXED = 36;
    private static final byte[] CIGAR_CHARS = "MIDNSHP=X???????".getBytes(StandardCharsets.US_ASCII);
    private static final byte[] SEQ_CHARS = "=ACMGRSVTWYHKDBN".getBytes(StandardCharsets.US_ASCII);
    private static final boolean[] REF_CONSUMING = new boolean[16];
    private static final int[] TAG_SIZES = new int[256];

    static {
        REF_CONSUMING[0] = true; // M
        REF_CONSUMING[2] = true; // D
        REF_CONSUMING[3] = true; // N
        REF_CONSUMING[7] = true; // =
        REF_CONSUMING[8] = true; // X
        for (int i = 0; i < 256; i++) {
            TAG_SIZES[i] = -1;
        }
        TAG_SIZES['A'] = 1;
        TAG_SIZES['c'] = 1;
        TAG_SIZES['C'] = 1;
        TAG_SIZES['s'] = 2;
        TAG_SIZES['S'] = 2;
        TAG_SIZES['i'] = 4;
        TAG_SIZES['I'] = 4;
        TAG_SIZES['f'] = 4;
    }

    /**
     * Advance past one auxiliary field starting at {@code p} (tag byte 0).
     * Z/H skip to their NUL terminator, B skips subtype+count+payload,
     * fixed-size types skip their width; -1 on unknown type or corrupt
     * layout (the scanners stop there — same contract as records.py
     * _walk_tags).
     */
    private static int skipTag(byte[] b, int p, int end) {
        int typ = b[p + 2] & 0xFF;
        if (typ == 'Z' || typ == 'H') {
            int z = p + 3;
            while (z < end && b[z] != 0) {
                z++;
            }
            return z >= end ? -1 : z + 1;
        }
        if (typ == 'B') {
            if (p + 8 > end) {
                return -1;
            }
            int sub = b[p + 3] & 0xFF;
            // spec §4.2.4.2: legal B subtypes are cCsSiIf only — 'A' is a
            // standalone type, not an array subtype; stop like _walk_tags
            int sz = sub == 'A' ? -1 : TAG_SIZES[sub];
            long cnt = Bgzf.i32(b, p + 4);
            if (sz <= 0 || cnt < 0 || p + 8 + sz * cnt > end) {
                return -1;
            }
            return (int) (p + 8 + sz * cnt);
        }
        int sz = TAG_SIZES[typ];
        return sz < 0 ? -1 : p + 3 + sz;
    }

    /**
     * Spec §4.2.2 long-cigar fallback: when the stored cigar is the
     * placeholder kSmN (k == l_seq), the real >65,535-op cigar lives in a
     * CG:B,I tag.  Returns the packed (len&lt;&lt;4|op) words, or null when the
     * record is not a placeholder / carries no CG tag.
     */
    private static int[] cgCigarWords(byte[] b, int cigarStart, int nCigar, int lSeq,
                              int tagStart, int recordEnd) {
        if (nCigar != 2) {
            return null;
        }
        int w0 = Bgzf.i32(b, cigarStart);
        int w1 = Bgzf.i32(b, cigarStart + 4);
        if ((w0 & 0xF) != 4 || (w0 >>> 4) != lSeq || (w1 & 0xF) != 3) {
            return null;
        }
        int p = tagStart;
        while (p + 3 <= recordEnd) {
            if (b[p] == 'C' && b[p + 1] == 'G' && (b[p + 2] & 0xFF) == 'B'
                    && p + 8 <= recordEnd && (b[p + 3] & 0xFF) == 'I') {
                int cnt = Bgzf.i32(b, p + 4);
                if (cnt <= 0 || p + 8 + 4L * cnt > recordEnd) {
                    return null;
                }
                int[] words = new int[cnt];
                for (int i = 0; i < cnt; i++) {
                    words[i] = Bgzf.i32(b, p + 8 + 4 * i);
                }
                return words;
            }
            p = skipTag(b, p, recordEnd);
            if (p < 0) {
                return null;
            }
        }
        return null;
    }

    /** end_pos recomputed from promoted CG words (parity with the Python
     *  scalar decoder; equals the placeholder's N length on
     *  spec-conforming files). */
    private static long endPosFromWords(long pos, int[] words) {
        if (pos < 0) {
            return -1L;
        }
        long consumed = 0;
        for (int v : words) {
            if (REF_CONSUMING[v & 0xF]) {
                consumed += (v >>> 4);
            }
        }
        return pos + consumed;
    }

    // field ids in full-schema order; the pruned schema maps to these
    private static final String[] ALL_FIELDS = {
        "qname", "flag", "ref_idx", "rname", "pos", "end_pos", "mapq", "cigar",
        "n_cigar_ops", "mate_ref_idx", "mate_pos", "tlen", "seq", "seq_len",
        "qual", "tags", "block_pos", "offset",
    };

    private static int[] fieldIds(String[] fieldNames) {
        int[] ids = new int[fieldNames.length];
        for (int i = 0; i < fieldNames.length; i++) {
            int id = -1;
            for (int j = 0; j < ALL_FIELDS.length; j++) {
                if (ALL_FIELDS[j].equals(fieldNames[i])) {
                    id = j;
                    break;
                }
            }
            if (id < 0) {
                throw new IllegalArgumentException("unknown column " + fieldNames[i]);
            }
            ids[i] = id;
        }
        return ids;
    }

    private final RecordWalker walker;
    private final int[] ids;
    private final byte[][] refNameBytes;
    private final WritableColumnVector[] vectors;
    private final ColumnarBatch batch;
    private byte[] scratch = new byte[256];

    BamColumnarReader(BamDataSource.BamSplit split, StructType required,
            org.apache.hadoop.conf.Configuration conf) {
        this.walker = new RecordWalker(split, conf);
        String[] names = new String[required.fields().length];
        for (int i = 0; i < names.length; i++) {
            names[i] = required.fields()[i].name();
        }
        this.ids = fieldIds(names);
        this.refNameBytes = new byte[split.header.names.length][];
        for (int i = 0; i < refNameBytes.length; i++) {
            refNameBytes[i] = split.header.names[i].getBytes(StandardCharsets.UTF_8);
        }
        this.vectors = OnHeapColumnVector.allocateColumns(CAPACITY, required);
        this.batch = new ColumnarBatch(this.vectors); // array covariance: vectors stay writable here
    }

    @Override
    public boolean next() throws IOException {
        for (WritableColumnVector v : vectors) {
            v.reset();
        }
        int n = 0;
        int mapEntries = 0;
        while (n < CAPACITY && walker.advance()) {
            mapEntries = appendRecord(n, mapEntries);
            n++;
        }
        batch.setNumRows(n);
        return n > 0;
    }

    @Override
    public ColumnarBatch get() {
        return batch;
    }

    @Override
    public void close() throws IOException {
        walker.close();
        for (WritableColumnVector v : vectors) {
            v.close();
        }
    }

    private byte[] scratch(int need) {
        if (scratch.length < need) {
            int cap = scratch.length;
            while (cap < need) {
                cap <<= 1;
            }
            scratch = new byte[cap];
        }
        return scratch;
    }

    /** Decode one record into row {@code row} of every required vector. */
    private int appendRecord(int row, int mapEntries) {
        byte[] b = walker.win.buf;
        int o = walker.recOff;
        int lName = b[o + 12] & 0xFF;
        int nCigar = Bgzf.u16(b, o + 16);
        int lSeq = Math.max(Bgzf.i32(b, o + 20), 0);
        int nameStart = o + FIXED;
        int cigarStart = nameStart + lName;
        int seqStart = cigarStart + 4 * nCigar;
        int qualStart = seqStart + (lSeq + 1) / 2;
        int tagStart = qualStart + lSeq;
        int recordEnd = o + 4 + walker.recBlockSize;
        // §4.2.2: promote a CG:B,I long cigar (null for normal records)
        int[] cgWords = cgCigarWords(
                b, cigarStart, nCigar, lSeq, tagStart, recordEnd);
        for (int i = 0; i < ids.length; i++) {
            WritableColumnVector v = vectors[i];
            switch (ids[i]) {
                case 0: // qname
                    putString(v, row, b, nameStart, Math.max(lName - 1, 0));
                    break;
                case 1:
                    v.putInt(row, Bgzf.u16(b, o + 18));
                    break;
                case 2:
                    v.putInt(row, Bgzf.i32(b, o + 4));
                    break;
                case 3: { // rname
                    int r = Bgzf.i32(b, o + 4);
                    if (r >= 0 && r < refNameBytes.length) {
                        v.putByteArray(row, refNameBytes[r], 0, refNameBytes[r].length);
                    } else {
                        v.putNull(row);
                    }
                    break;
                }
                case 4:
                    v.putLong(row, Bgzf.i32(b, o + 8));
                    break;
                case 5:
                    v.putLong(row, cgWords != null
                            ? endPosFromWords(Bgzf.i32(b, o + 8), cgWords)
                            : endPos(b, o, cigarStart, nCigar));
                    break;
                case 6:
                    v.putInt(row, b[o + 13] & 0xFF);
                    break;
                case 7: { // cigar (promoted CG when long)
                    if (cgWords != null) {
                        int len = writeCigarWords(cgWords);
                        v.putByteArray(row, scratch, 0, len);
                    } else if (nCigar == 0) {
                        v.putByteArray(row, STAR, 0, 1);
                    } else {
                        int len = writeCigar(b, cigarStart, nCigar);
                        v.putByteArray(row, scratch, 0, len);
                    }
                    break;
                }
                case 8:
                    v.putInt(row, cgWords != null ? cgWords.length : nCigar);
                    break;
                case 9:
                    v.putInt(row, Bgzf.i32(b, o + 24));
                    break;
                case 10:
                    v.putLong(row, Bgzf.i32(b, o + 28));
                    break;
                case 11:
                    v.putInt(row, Bgzf.i32(b, o + 32));
                    break;
                case 12: { // seq
                    byte[] s = scratch(lSeq);
                    unpackSeq(b, seqStart, s, lSeq);
                    v.putByteArray(row, s, 0, lSeq);
                    break;
                }
                case 13:
                    v.putInt(row, lSeq);
                    break;
                case 14: { // qual
                    byte[] s = scratch(lSeq);
                    boolean ascii = true;
                    for (int k = 0; k < lSeq; k++) {
                        int q = (b[qualStart + k] + 33) & 0xFF;
                        s[k] = (byte) q;
                        ascii &= q < 0x80;
                    }
                    if (ascii) {
                        v.putByteArray(row, s, 0, lSeq);
                    } else {
                        // rare latin-1 path: encode codepoints as UTF-8
                        byte[] enc = UTF8String.fromString(
                                new String(s, 0, lSeq, StandardCharsets.ISO_8859_1)).getBytes();
                        v.putByteArray(row, enc, 0, enc.length);
                    }
                    break;
                }
                case 15: // tags
                    mapEntries = putTags(v, row, mapEntries, b, tagStart, recordEnd);
                    break;
                case 16:
                    v.putLong(row, walker.curBlockStart);
                    break;
                case 17:
                    v.putInt(row, o - walker.curBlockUstart);
                    break;
                default:
                    throw new IllegalStateException();
            }
        }
        return mapEntries;
    }

    private static final byte[] STAR = {'*'};

    private static long endPos(byte[] b, int o, int cigarStart, int nCigar) {
        long pos = Bgzf.i32(b, o + 8);
        if (pos < 0) {
            return -1L;
        }
        long consumed = 0;
        for (int c = 0; c < nCigar; c++) {
            int v = Bgzf.i32(b, cigarStart + 4 * c);
            if (REF_CONSUMING[v & 0xF]) {
                consumed += (v >>> 4);
            }
        }
        return pos + consumed;
    }

    private static void unpackSeq(byte[] b, int seqStart, byte[] out, int lSeq) {
        for (int k = 0; k < lSeq; k++) {
            int packed = b[seqStart + (k >> 1)] & 0xFF;
            out[k] = SEQ_CHARS[(k & 1) == 0 ? (packed >> 4) : (packed & 0xF)];
        }
    }

    /** Render the cigar string into the scratch buffer; returns length. */
    private int writeCigar(byte[] b, int cigarStart, int nCigar) {
        byte[] s = scratch(nCigar * 11); // 10 digits + op per element max
        int w = 0;
        for (int c = 0; c < nCigar; c++) {
            w = writeCigarOp(s, w, Bgzf.i32(b, cigarStart + 4 * c));
        }
        return w;
    }

    /** Same, from promoted CG:B,I words. */
    private int writeCigarWords(int[] words) {
        byte[] s = scratch(words.length * 11);
        int w = 0;
        for (int v : words) {
            w = writeCigarOp(s, w, v);
        }
        return w;
    }

    private static int writeCigarOp(byte[] s, int w, int v) {
        int len = v >>> 4;
        // decimal digits, written forward via a reversed scratch tail
        int start = w;
        do {
            s[w++] = (byte) ('0' + (len % 10));
            len /= 10;
        } while (len != 0);
        for (int lo = start, hi = w - 1; lo < hi; lo++, hi--) {
            byte t = s[lo];
            s[lo] = s[hi];
            s[hi] = t;
        }
        s[w++] = CIGAR_CHARS[v & 0xF];
        return w;
    }

    /**
     * Z-typed auxiliary fields as a string map: each Z tag becomes an
     * entry appended to the keys/values child vectors.  A/c/C/s/S/i/I/f
     * fixed-size tags, H hex strings and B arrays are skipped
     * structurally and the scan stops at an unknown type or corrupt
     * layout, the same contract as records.py _walk_tags.  A CG:B,I
     * long-cigar carrier is B-typed, so it never enters the map (it is
     * promoted into 'cigar').
     */
    private int putTags(WritableColumnVector v, int row, int entryBase, byte[] b, int p, int end) {
        WritableColumnVector keys = v.getChild(0);
        WritableColumnVector vals = v.getChild(1);
        int k = 0;
        while (p + 3 <= end) {
            int typ = b[p + 2] & 0xFF;
            if (typ == 'Z') {
                int z = p + 3;
                while (z < end && b[z] != 0) {
                    z++;
                }
                if (z >= end) {
                    break;
                }
                keys.reserve(entryBase + k + 1);
                vals.reserve(entryBase + k + 1);
                putString(keys, entryBase + k, b, p, 2);
                putString(vals, entryBase + k, b, p + 3, z - (p + 3));
                k++;
                p = z + 1;
            } else {
                p = skipTag(b, p, end);
                if (p < 0) {
                    break;
                }
            }
        }
        v.putArray(row, entryBase, k);
        return entryBase + k;
    }

    /**
     * Pure-ASCII slices are copied as they are; any byte >= 0x80 falls
     * back to latin-1 code points, matching the Python decoder's
     * errors-tolerant behavior on corrupt inputs.
     */
    private static void putString(WritableColumnVector v, int row, byte[] b, int off, int len) {
        if (isAscii(b, off, len)) {
            v.putByteArray(row, b, off, len);
        } else {
            byte[] enc = UTF8String.fromString(
                    new String(b, off, len, StandardCharsets.ISO_8859_1)).getBytes();
            v.putByteArray(row, enc, 0, enc.length);
        }
    }

    private static boolean isAscii(byte[] b, int off, int len) {
        for (int i = 0; i < len; i++) {
            if ((b[off + i] & 0x80) != 0) {
                return false;
            }
        }
        return true;
    }
}
