package bamjvm;

import java.io.IOException;
import java.nio.charset.StandardCharsets;
import java.util.ArrayList;
import java.util.List;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow;
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData;
import org.apache.spark.sql.catalyst.util.GenericArrayData;
import org.apache.spark.sql.connector.read.PartitionReader;
import org.apache.spark.unsafe.types.UTF8String;

/**
 * Row-based per-split BAM reader: RecordWalker supplies record
 * positions; only the requested columns are decoded.  Value semantics
 * equal the pure-Python decoder's (spark_bam_spark/bam/records.py
 * decode_record) — the differential test suite compares the two
 * row-for-row.  The columnar twin (BamColumnarReader)
 * shares the walker and the static decode tables below.
 */
final class BamPartitionReader implements PartitionReader<InternalRow> {
    static final int FIXED = 36;
    static final byte[] CIGAR_CHARS = "MIDNSHP=X???????".getBytes(StandardCharsets.US_ASCII);
    static final byte[] SEQ_CHARS = "=ACMGRSVTWYHKDBN".getBytes(StandardCharsets.US_ASCII);
    static final boolean[] REF_CONSUMING = new boolean[16];
    static final int[] TAG_SIZES = new int[256];

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
    static int skipTag(byte[] b, int p, int end) {
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
    static int[] cgCigarWords(byte[] b, int cigarStart, int nCigar, int lSeq,
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
    static long endPosFromWords(long pos, int[] words) {
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
    static final String[] ALL_FIELDS = {
        "qname", "flag", "ref_idx", "rname", "pos", "end_pos", "mapq", "cigar",
        "n_cigar_ops", "mate_ref_idx", "mate_pos", "tlen", "seq", "seq_len",
        "qual", "tags", "block_pos", "offset",
    };

    static int[] fieldIds(String[] fieldNames) {
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
    private final UTF8String[] refNames;
    private InternalRow current;

    BamPartitionReader(BamDataSource.BamSplit split, String[] fieldNames,
            org.apache.hadoop.conf.Configuration conf) {
        this.walker = new RecordWalker(split, conf);
        this.ids = fieldIds(fieldNames);
        this.refNames = new UTF8String[split.header.names.length];
        for (int i = 0; i < refNames.length; i++) {
            refNames[i] = UTF8String.fromString(split.header.names[i]);
        }
    }

    @Override
    public boolean next() throws IOException {
        if (!walker.advance()) {
            return false;
        }
        current = decode();
        return true;
    }

    @Override
    public InternalRow get() {
        return current;
    }

    @Override
    public void close() throws IOException {
        walker.close();
    }

    // --------------------------------------------------------------- decode

    private InternalRow decode() {
        byte[] b = walker.win.buf;
        int o = walker.recOff;
        int blockSize = walker.recBlockSize;
        Object[] vals = new Object[ids.length];
        // layout offsets shared by several columns; computed once per record
        int lName = b[o + 12] & 0xFF;
        int nCigar = Bgzf.u16(b, o + 16);
        int lSeq = Math.max(Bgzf.i32(b, o + 20), 0);
        int nameStart = o + FIXED;
        int cigarStart = nameStart + lName;
        int seqStart = cigarStart + 4 * nCigar;
        int packedLen = (lSeq + 1) / 2;
        int qualStart = seqStart + packedLen;
        int tagStart = qualStart + lSeq;
        int recordEnd = o + 4 + blockSize;
        // §4.2.2: promote a CG:B,I long cigar (null for normal records;
        // the nCigar==2 pre-check keeps this free on short-read data)
        int[] cgWords = cgCigarWords(b, cigarStart, nCigar, lSeq, tagStart, recordEnd);
        for (int i = 0; i < ids.length; i++) {
            switch (ids[i]) {
                case 0: // qname (trailing NUL stripped)
                    vals[i] = utf8(b, nameStart, Math.max(lName - 1, 0));
                    break;
                case 1: // flag
                    vals[i] = Bgzf.u16(b, o + 18);
                    break;
                case 2: // ref_idx
                    vals[i] = Bgzf.i32(b, o + 4);
                    break;
                case 3: { // rname
                    int r = Bgzf.i32(b, o + 4);
                    vals[i] = (r >= 0 && r < refNames.length) ? refNames[r] : null;
                    break;
                }
                case 4: // pos
                    vals[i] = (long) Bgzf.i32(b, o + 8);
                    break;
                case 5: // end_pos = pos + reference-consumed cigar length
                    vals[i] = cgWords != null
                            ? endPosFromWords(Bgzf.i32(b, o + 8), cgWords)
                            : endPos(b, o, cigarStart, nCigar);
                    break;
                case 6: // mapq
                    vals[i] = b[o + 13] & 0xFF;
                    break;
                case 7: { // cigar ('*' when empty; promoted CG when long)
                    if (cgWords != null) {
                        StringBuilder sb = new StringBuilder(cgWords.length * 4);
                        for (int v : cgWords) {
                            sb.append(v >>> 4).append((char) CIGAR_CHARS[v & 0xF]);
                        }
                        vals[i] = UTF8String.fromString(sb.toString());
                    } else if (nCigar == 0) {
                        vals[i] = UTF8String.fromString("*");
                    } else {
                        StringBuilder sb = new StringBuilder(nCigar * 4);
                        for (int c = 0; c < nCigar; c++) {
                            int v = Bgzf.i32(b, cigarStart + 4 * c);
                            sb.append(v >>> 4).append((char) CIGAR_CHARS[v & 0xF]);
                        }
                        vals[i] = UTF8String.fromString(sb.toString());
                    }
                    break;
                }
                case 8: // n_cigar_ops (real count for promoted CG records)
                    vals[i] = cgWords != null ? cgWords.length : nCigar;
                    break;
                case 9: // mate_ref_idx
                    vals[i] = Bgzf.i32(b, o + 24);
                    break;
                case 10: // mate_pos
                    vals[i] = (long) Bgzf.i32(b, o + 28);
                    break;
                case 11: // tlen
                    vals[i] = Bgzf.i32(b, o + 32);
                    break;
                case 12: { // seq (4-bit packed, high nibble first)
                    byte[] out = new byte[lSeq];
                    unpackSeq(b, seqStart, out, lSeq);
                    vals[i] = UTF8String.fromBytes(out);
                    break;
                }
                case 13: // seq_len
                    vals[i] = lSeq;
                    break;
                case 14: { // qual (phred+33, wrapping like the Python path)
                    byte[] out = new byte[lSeq];
                    for (int k = 0; k < lSeq; k++) {
                        out[k] = (byte) ((b[qualStart + k] + 33) & 0xFF);
                    }
                    vals[i] = utf8(out, 0, lSeq);
                    break;
                }
                case 15: // tags
                    vals[i] = decodeTags(b, tagStart, recordEnd);
                    break;
                case 16: // block_pos
                    vals[i] = walker.curBlockStart;
                    break;
                case 17: // offset
                    vals[i] = o - walker.curBlockUstart;
                    break;
                default:
                    throw new IllegalStateException();
            }
        }
        return new GenericInternalRow(vals);
    }

    static long endPos(byte[] b, int o, int cigarStart, int nCigar) {
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

    static void unpackSeq(byte[] b, int seqStart, byte[] out, int lSeq) {
        for (int k = 0; k < lSeq; k++) {
            int packed = b[seqStart + (k >> 1)] & 0xFF;
            out[k] = SEQ_CHARS[(k & 1) == 0 ? (packed >> 4) : (packed & 0xF)];
        }
    }

    /**
     * Z-typed auxiliary fields as a string map; A/c/C/s/S/i/I/f fixed-size
     * tags, H hex strings and B arrays are skipped structurally and the
     * scan stops at an unknown type or corrupt layout — the same contract
     * as records.py _walk_tags.  A CG:B,I long-cigar carrier is
     * B-typed, so it never enters the map (it is promoted into 'cigar').
     */
    private ArrayBasedMapData decodeTags(byte[] b, int p, int end) {
        List<UTF8String> keys = null;
        List<UTF8String> valsList = null;
        while (p + 3 <= end) {
            int typ = b[p + 2] & 0xFF;
            if (typ == 'Z') {
                int z = p + 3;
                while (z < end && b[z] != 0) {
                    z++;
                }
                if (z >= end) {
                    break; // no NUL inside this record's tag region
                }
                if (keys == null) {
                    keys = new ArrayList<>(4);
                    valsList = new ArrayList<>(4);
                }
                keys.add(utf8(b, p, 2));
                valsList.add(utf8(b, p + 3, z - (p + 3)));
                p = z + 1;
            } else {
                p = skipTag(b, p, end);
                if (p < 0) {
                    break; // unknown/corrupt: stop scanning this record
                }
            }
        }
        if (keys == null) {
            return new ArrayBasedMapData(
                    new GenericArrayData(new Object[0]), new GenericArrayData(new Object[0]));
        }
        return new ArrayBasedMapData(
                new GenericArrayData(keys.toArray()), new GenericArrayData(valsList.toArray()));
    }

    /**
     * UTF8String from raw bytes: pure-ASCII slices wrap directly; any
     * byte >= 0x80 falls back to latin-1 codepoints, matching the Python
     * decoder's errors-tolerant behavior on corrupt inputs.
     */
    static UTF8String utf8(byte[] b, int off, int len) {
        if (isAscii(b, off, len)) {
            byte[] copy = new byte[len];
            System.arraycopy(b, off, copy, 0, len);
            return UTF8String.fromBytes(copy);
        }
        return UTF8String.fromString(new String(b, off, len, StandardCharsets.ISO_8859_1));
    }

    static boolean isAscii(byte[] b, int off, int len) {
        for (int i = 0; i < len; i++) {
            if ((b[off + i] & 0x80) != 0) {
                return false;
            }
        }
        return true;
    }
}
