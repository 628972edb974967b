package bamjvm;

import java.io.IOException;
import java.nio.charset.StandardCharsets;
import org.apache.spark.sql.connector.read.PartitionReader;
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector;
import org.apache.spark.sql.execution.vectorized.WritableColumnVector;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.vectorized.ColumnVector;
import org.apache.spark.sql.vectorized.ColumnarBatch;
import org.apache.spark.unsafe.types.UTF8String;

/**
 * Columnar per-split BAM reader: identical walk + value semantics to the
 * row-based BamPartitionReader (same RecordWalker, same decode tables),
 * but batches of 4096 records land directly in OnHeapColumnVectors — no
 * per-record row allocation, and downstream operators consume the batch
 * vectorized.  This is the default read path; rows remain available via
 * the `columnar=false` option; the differential tests pin both against
 * the pure-Python decoder.
 */
final class BamColumnarReader implements PartitionReader<ColumnarBatch> {
    private static final int CAPACITY = 4096;

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
        this.ids = BamPartitionReader.fieldIds(names);
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
        int nameStart = o + BamPartitionReader.FIXED;
        int cigarStart = nameStart + lName;
        int seqStart = cigarStart + 4 * nCigar;
        int qualStart = seqStart + (lSeq + 1) / 2;
        int tagStart = qualStart + lSeq;
        int recordEnd = o + 4 + walker.recBlockSize;
        // §4.2.2: promote a CG:B,I long cigar (null for normal records)
        int[] cgWords = BamPartitionReader.cgCigarWords(
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
                            ? BamPartitionReader.endPosFromWords(Bgzf.i32(b, o + 8), cgWords)
                            : BamPartitionReader.endPos(b, o, cigarStart, nCigar));
                    break;
                case 6:
                    v.putInt(row, b[o + 13] & 0xFF);
                    break;
                case 7: { // cigar (promoted CG when long)
                    if (cgWords != null) {
                        int len = writeCigarWords(cgWords);
                        v.putByteArray(row, scratch, 0, len);
                    } else if (nCigar == 0) {
                        v.putByteArray(row, BamColumnarReader.STAR, 0, 1);
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
                    BamPartitionReader.unpackSeq(b, seqStart, s, lSeq);
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
        s[w++] = BamPartitionReader.CIGAR_CHARS[v & 0xF];
        return w;
    }

    /**
     * Same tag-stream contract as the row decoder: Z tags become map
     * entries appended to the keys/values child vectors.
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
                p = BamPartitionReader.skipTag(b, p, end);
                if (p < 0) {
                    break;
                }
            }
        }
        v.putArray(row, entryBase, k);
        return entryBase + k;
    }

    private static void putString(WritableColumnVector v, int row, byte[] b, int off, int len) {
        if (BamPartitionReader.isAscii(b, off, len)) {
            v.putByteArray(row, b, off, len);
        } else {
            byte[] enc = UTF8String.fromString(
                    new String(b, off, len, StandardCharsets.ISO_8859_1)).getBytes();
            v.putByteArray(row, enc, 0, enc.length);
        }
    }
}
