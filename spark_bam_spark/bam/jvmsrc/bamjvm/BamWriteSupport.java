package bamjvm;

import java.io.IOException;
import java.io.Serializable;
import java.util.Map;
import java.util.TreeMap;
import java.util.zip.CRC32;
import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.FSDataOutputStream;
import org.apache.hadoop.fs.FileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.spark.broadcast.Broadcast;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.util.ArrayData;
import org.apache.spark.sql.catalyst.util.MapData;
import org.apache.spark.sql.connector.write.BatchWrite;
import org.apache.spark.sql.connector.write.DataWriter;
import org.apache.spark.sql.connector.write.DataWriterFactory;
import org.apache.spark.sql.connector.write.LogicalWriteInfo;
import org.apache.spark.sql.connector.write.PhysicalWriteInfo;
import org.apache.spark.sql.connector.write.SupportsTruncate;
import org.apache.spark.sql.connector.write.Write;
import org.apache.spark.sql.connector.write.WriteBuilder;
import org.apache.spark.sql.connector.write.WriterCommitMessage;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.unsafe.types.UTF8String;
import org.apache.spark.util.SerializableConfiguration;

/**
 * JVM-native distributed BAM sink (S18): one part-BAM per
 * partition under the target directory, records encoded per the public
 * SAM/BAM spec and sliced into BGZF blocks of {@code block_payload}
 * uncompressed bytes.  Reference behavior parity:
 * cli/.../rewrite/HTSJDKRewrite.scala:21-93 (rewrite sink runs its codec
 * JVM-side via htsjdk; cited as behavior, not copied — this is an
 * original implementation against the spec and the Spark DSv2 write API).
 *
 * Scale properties:
 * <ul>
 *   <li><b>O(block) memory</b>: records stream into a fixed
 *       {@code block_payload}-byte buffer that is deflated and flushed as
 *       it fills.</li>
 *   <li><b>Task-retry safe</b>: each task writes
 *       {@code .part-NNNNN-taskid.bam.inprogress} and renames into place
 *       at {@code DataWriter.commit()}, so a speculative or retried task
 *       never leaves a torn part file.</li>
 *   <li><b>No Python/Arrow boundary</b>: rows are encoded in the executor
 *       JVM.</li>
 * </ul>
 *
 * Input column contract: any subset of the read
 * schema's logical columns by NAME; missing columns or NULL values take
 * the spec defaults (qname "", flag 0, ref_idx from rname via the
 * {@code contigs} option else -1, pos/mate_pos -1, mapq/tlen 0, cigar "*",
 * seq/qual "", tags empty).  Given the same records and options the
 * output matches the pure-Python oracle encoder (writer.py
 * StreamingBamEncoder) block for block: same header bytes, same record
 * encoding (tags sorted, type 'Z'), same exact {@code block_payload}
 * slicing of the uncompressed stream, same CRC32 and ISIZE footers.
 * The deflate payloads (level 6 by default) come from {@link BgzfCodec}:
 * libdeflate when its JNI shim loads, whose payloads differ from zlib's,
 * else {@code java.util.zip}, whose payloads and therefore compressed
 * bytes and BAI virtual offsets equal the oracle's.
 */
final class BamWriteSupport {
    private BamWriteSupport() {}

    static final int DEFAULT_BLOCK_PAYLOAD = 0xFF00;
    static final byte[] BAM_MAGIC = {'B', 'A', 'M', 1};
    // standard 28-byte BGZF EOF marker (SAM spec §4.1.2)
    static final byte[] EOF_BLOCK = {
        0x1f, (byte) 0x8b, 0x08, 0x04, 0, 0, 0, 0, 0, (byte) 0xff,
        0x06, 0x00, 0x42, 0x43, 0x02, 0x00, 0x1b, 0x00,
        0x03, 0x00, 0, 0, 0, 0, 0, 0, 0, 0
    };
    static final String CIGAR_OPS = "MIDNSHP=X";
    static final byte[] SEQ_NIBBLE = new byte[128];
    static {
        java.util.Arrays.fill(SEQ_NIBBLE, (byte) 15);
        String codes = "=ACMGRSVTWYHKDBN";
        for (int i = 0; i < codes.length(); i++) SEQ_NIBBLE[codes.charAt(i)] = (byte) i;
    }

    /** SAM spec §5.3 binning (public pseudo-code), matching records.py _reg2bin. */
    static int reg2bin(long beg, long end) {
        end -= 1;
        if (beg >> 14 == end >> 14) return (int) (((1 << 15) - 1) / 7 + (beg >> 14));
        if (beg >> 17 == end >> 17) return (int) (((1 << 12) - 1) / 7 + (beg >> 17));
        if (beg >> 20 == end >> 20) return (int) (((1 << 9) - 1) / 7 + (beg >> 20));
        if (beg >> 23 == end >> 23) return (int) (((1 << 6) - 1) / 7 + (beg >> 23));
        if (beg >> 26 == end >> 26) return (int) (((1 << 3) - 1) / 7 + (beg >> 26));
        return 0;
    }

    static byte[] encodeHeader(String[] names, int[] lengths) {
        StringBuilder sam = new StringBuilder("@HD\tVN:1.6\tSO:coordinate\n");
        for (int i = 0; i < names.length; i++) {
            sam.append("@SQ\tSN:").append(names[i]).append("\tLN:").append(lengths[i]).append('\n');
        }
        byte[] text = sam.toString().getBytes(java.nio.charset.StandardCharsets.US_ASCII);
        Grow out = new Grow(64 + text.length + names.length * 16);
        out.bytes(BAM_MAGIC, 0, 4);
        out.i32(text.length);
        out.bytes(text, 0, text.length);
        out.i32(names.length);
        for (int i = 0; i < names.length; i++) {
            byte[] nb = names[i].getBytes(java.nio.charset.StandardCharsets.US_ASCII);
            out.i32(nb.length + 1);
            out.bytes(nb, 0, nb.length);
            out.u8(0);
            out.i32(lengths[i]);
        }
        return out.toArray();
    }

    /** Tiny growable little-endian byte sink (avoids ByteBuffer realloc churn). */
    static final class Grow {
        byte[] buf;
        int len;

        Grow(int cap) { buf = new byte[Math.max(cap, 64)]; }

        void reserve(int extra) {
            if (len + extra > buf.length) {
                int cap = buf.length;
                while (cap < len + extra) cap <<= 1;
                buf = java.util.Arrays.copyOf(buf, cap);
            }
        }

        void u8(int v) { reserve(1); buf[len++] = (byte) v; }

        void u16(int v) { reserve(2); buf[len++] = (byte) v; buf[len++] = (byte) (v >> 8); }

        void i32(int v) {
            reserve(4);
            buf[len++] = (byte) v;
            buf[len++] = (byte) (v >> 8);
            buf[len++] = (byte) (v >> 16);
            buf[len++] = (byte) (v >> 24);
        }

        void i64(long v) {
            i32((int) v);
            i32((int) (v >> 32));
        }

        void bytes(byte[] src, int off, int n) {
            reserve(n);
            System.arraycopy(src, off, buf, len, n);
            len += n;
        }

        byte[] toArray() { return java.util.Arrays.copyOf(buf, len); }
    }

    /**
     * Name→index map of the logical writer columns present in the input
     * schema, with just enough type info to read them off InternalRow.
     * Unknown columns (block_pos, offset, path, end_pos, ...) are ignored.
     */
    static final class ColMap implements Serializable {
        private static final long serialVersionUID = 1L;
        int qname = -1, flag = -1, refIdx = -1, rname = -1, pos = -1, mapq = -1,
            cigar = -1, mateRefIdx = -1, matePos = -1, tlen = -1, seq = -1,
            qual = -1, tags = -1;
        boolean posLong, matePosLong, flagLong, refIdxLong, mapqLong, mateRefIdxLong, tlenLong;

        ColMap(StructType schema) {
            StructField[] fields = schema.fields();
            for (int i = 0; i < fields.length; i++) {
                String n = fields[i].name();
                DataType t = fields[i].dataType();
                switch (n) {
                    case "qname": qname = req(i, t, true, n); break;
                    case "flag": flag = req(i, t, false, n); flagLong = isLong(t); break;
                    case "ref_idx": refIdx = req(i, t, false, n); refIdxLong = isLong(t); break;
                    case "rname": rname = req(i, t, true, n); break;
                    case "pos": pos = req(i, t, false, n); posLong = isLong(t); break;
                    case "mapq": mapq = req(i, t, false, n); mapqLong = isLong(t); break;
                    case "cigar": cigar = req(i, t, true, n); break;
                    case "mate_ref_idx": mateRefIdx = req(i, t, false, n); mateRefIdxLong = isLong(t); break;
                    case "mate_pos": matePos = req(i, t, false, n); matePosLong = isLong(t); break;
                    case "tlen": tlen = req(i, t, false, n); tlenLong = isLong(t); break;
                    case "seq": seq = req(i, t, true, n); break;
                    case "qual": qual = req(i, t, true, n); break;
                    case "tags":
                        if (!(t instanceof org.apache.spark.sql.types.MapType)) {
                            throw new IllegalArgumentException(
                                    "bam write: column 'tags' must be map<string,string>, got " + t.sql());
                        }
                        tags = i;
                        break;
                    default: // not a writer column: ignored
                }
            }
        }

        private static boolean isLong(DataType t) { return t.sameType(DataTypes.LongType); }

        private static int req(int idx, DataType t, boolean string, String name) {
            boolean ok = string
                    ? t.sameType(DataTypes.StringType)
                    : (t.sameType(DataTypes.IntegerType) || t.sameType(DataTypes.LongType));
            if (!ok) {
                throw new IllegalArgumentException(
                        "bam write: column '" + name + "' must be "
                                + (string ? "string" : "int/bigint") + ", got " + t.sql());
            }
            return idx;
        }
    }

    // ------------------------------------------------------------- builder

    static final class BamWriteBuilder
            implements WriteBuilder, SupportsTruncate, Write, BatchWrite {
        private final String path;
        private final String[] names;
        private final int[] lengths;
        private final int blockPayload;
        private final boolean bai;
        private final int deflateLevel;
        private final ColMap cols;
        private final String jobToken;
        private boolean truncate;

        BamWriteBuilder(LogicalWriteInfo info) {
            Map<String, String> opts = info.options().asCaseSensitiveMap();
            // per-job unique part-name token (Spark's write UUID), so
            // mode("append") into a directory that already holds output
            // adds parts instead of clobbering same-numbered ones
            this.jobToken = info.queryId().replace("-", "").substring(0, 12);
            this.path = opts.get("path");
            if (this.path == null || this.path.isEmpty()) {
                throw new IllegalArgumentException("bam write: 'path' is required");
            }
            String contigs = opts.getOrDefault("contigs", "");
            java.util.List<String> ns = new java.util.ArrayList<>();
            java.util.List<Integer> ls = new java.util.ArrayList<>();
            for (String part : contigs.split(",")) {
                int colon = part.lastIndexOf(':');
                if (colon > 0) {
                    ns.add(part.substring(0, colon));
                    ls.add(Integer.parseInt(part.substring(colon + 1).trim()));
                }
            }
            this.names = ns.toArray(new String[0]);
            this.lengths = new int[ls.size()];
            for (int i = 0; i < ls.size(); i++) this.lengths[i] = ls.get(i);
            this.blockPayload = Integer.parseInt(
                    opts.getOrDefault("block_payload", String.valueOf(DEFAULT_BLOCK_PAYLOAD)));
            if (blockPayload < 1 || blockPayload > DEFAULT_BLOCK_PAYLOAD) {
                throw new IllegalArgumentException(
                        "bam write: block_payload must be in [1, " + DEFAULT_BLOCK_PAYLOAD + "]");
            }
            this.bai = Boolean.parseBoolean(opts.getOrDefault("bai", "false"));
            this.deflateLevel = Integer.parseInt(opts.getOrDefault("deflate_level", "6"));
            if (deflateLevel < 0 || deflateLevel > 9) {
                throw new IllegalArgumentException("bam write: deflate_level must be in [0, 9]");
            }
            this.cols = new ColMap(info.schema());
        }

        @Override
        public Write build() { return this; }

        @Override
        public BatchWrite toBatch() { return this; }

        /** {@code df.write.mode("overwrite")}: replace the directory. */
        @Override
        public WriteBuilder truncate() {
            this.truncate = true;
            return this;
        }

        @Override
        public DataWriterFactory createBatchWriterFactory(PhysicalWriteInfo info) {
            try {
                Path dir = new Path(path);
                FileSystem fs = dir.getFileSystem(BamDataSource.sessionConf());
                if (truncate && fs.exists(dir)) {
                    fs.delete(dir, true);
                }
                fs.mkdirs(dir);
            } catch (IOException e) {
                throw new java.io.UncheckedIOException(e);
            }
            return new BamWriterFactory(path, names, lengths, blockPayload, bai, deflateLevel, cols,
                    BamDataSource.broadcastConf(), jobToken);
        }

        @Override
        public void commit(WriterCommitMessage[] messages) {}

        @Override
        public void abort(WriterCommitMessage[] messages) {
            // committed parts from successful tasks are left for the caller
            // to clean (append semantics); in-progress files were removed by
            // each task's own abort()
        }
    }

    static final class BamWriterFactory implements DataWriterFactory {
        private static final long serialVersionUID = 1L;
        private final String path;
        private final String[] names;
        private final int[] lengths;
        private final int blockPayload;
        private final boolean bai;
        private final int deflateLevel;
        private final ColMap cols;
        private final Broadcast<SerializableConfiguration> conf;
        private final String jobToken;

        BamWriterFactory(String path, String[] names, int[] lengths, int blockPayload,
                         boolean bai, int deflateLevel, ColMap cols,
                         Broadcast<SerializableConfiguration> conf, String jobToken) {
            this.path = path;
            this.names = names;
            this.lengths = lengths;
            this.blockPayload = blockPayload;
            this.bai = bai;
            this.deflateLevel = deflateLevel;
            this.cols = cols;
            this.conf = conf;
            this.jobToken = jobToken;
        }

        @Override
        public DataWriter<InternalRow> createWriter(int partitionId, long taskId) {
            try {
                return new BamDataWriter(path, names, lengths, blockPayload, bai, deflateLevel,
                        cols, conf.value().value(), partitionId, taskId, jobToken);
            } catch (IOException e) {
                throw new java.io.UncheckedIOException(e);
            }
        }
    }

    static final class BamCommitMessage implements WriterCommitMessage {
        private static final long serialVersionUID = 1L;
        final String path;
        final long records;

        BamCommitMessage(String path, long records) { this.path = path; this.records = records; }
    }

    // -------------------------------------------------------------- writer

    static final class BamDataWriter implements DataWriter<InternalRow> {
        private final FileSystem fs;
        private final Path tmpPath;
        private final Path finalPath;
        private final FSDataOutputStream out;
        private final int blockPayload;
        private final ColMap cols;
        private final Map<String, Integer> nameToIdx = new java.util.HashMap<>();
        private final byte[] block; // uncompressed staging, flushed at blockPayload
        private int fill;
        private final byte[] deflated = new byte[Bgzf.MAX_BLOCK_SIZE];
        private final BgzfCodec deflater;
        private final CRC32 crc = new CRC32();
        private final Grow rec = new Grow(512);
        private long nRecords;
        private boolean closed;
        // BAI emission (option bai=true): the writer owns every record's
        // exact virtual offset ((compressed-bytes-flushed << 16) | fill),
        // so it builds the spec §5.2 binning index as a running side
        // effect — no second pass, O(touched bins) memory.  Mirrors the
        // Python generator's build_bai (bam/bai.py:72-100).
        private final boolean bai;
        private final int nRefs;
        private long prevRef = Long.MIN_VALUE; // bai: coordinate-order guard
        private long prevPos = Long.MIN_VALUE;
        private long flushed; // compressed bytes written so far
        private final java.util.HashMap<Integer, TreeMap<Integer, java.util.ArrayList<long[]>>> baiBins =
                new java.util.HashMap<>();
        private final java.util.HashMap<Integer, java.util.ArrayList<Long>> baiLinear =
                new java.util.HashMap<>();
        // samtools metadata pseudo-bin per ref: {offBeg, offEnd, nMapped, nUnmapped}
        private final java.util.HashMap<Integer, long[]> baiStats = new java.util.HashMap<>();
        private long baiNoCoor;

        BamDataWriter(String dir, String[] names, int[] lengths, int blockPayload,
                      boolean bai, int deflateLevel, ColMap cols, Configuration conf,
                      int partitionId, long taskId, String jobToken) throws IOException {
            this.blockPayload = blockPayload;
            this.bai = bai;
            this.nRefs = names.length;
            this.cols = cols;
            this.block = new byte[blockPayload];
            for (int i = 0; i < names.length; i++) nameToIdx.put(names[i], i);
            Path base = new Path(dir);
            this.fs = base.getFileSystem(conf);
            this.finalPath = new Path(base,
                    String.format("part-%05d-%s.bam", partitionId, jobToken));
            this.tmpPath = new Path(base,
                    String.format(".part-%05d-%d.bam.inprogress", partitionId, taskId));
            this.out = fs.create(tmpPath, true);
            this.deflater = BgzfCodec.compressor(deflateLevel); // freed in close()
            byte[] header = encodeHeader(names, lengths);
            append(header, 0, header.length);
        }

        // ---- BGZF block framing (bgzf.py compress_block's header and
        // footer; the payload is byte-identical only on the zip fallback)

        private void append(byte[] src, int off, int n) throws IOException {
            while (n > 0) {
                int take = Math.min(blockPayload - fill, n);
                System.arraycopy(src, off, block, fill, take);
                fill += take;
                off += take;
                n -= take;
                if (fill == blockPayload) flushBlock();
            }
        }

        private void flushBlock() throws IOException {
            if (fill == 0) return;
            int n = deflater.deflate(block, 0, fill, deflated);
            int bsize = Bgzf.HEADER_LEN + n + Bgzf.FOOTER_LEN;
            if (n < 0 || bsize > Bgzf.MAX_BLOCK_SIZE) {
                throw new IOException("compressed BGZF block exceeds 64 KiB");
            }
            byte[] head = {
                0x1f, (byte) 0x8b, 0x08, 0x04, 0, 0, 0, 0, 0, (byte) 0xff,
                0x06, 0x00, 0x42, 0x43, 0x02, 0x00,
                (byte) ((bsize - 1) & 0xff), (byte) (((bsize - 1) >> 8) & 0xff)
            };
            out.write(head);
            out.write(deflated, 0, n);
            crc.reset();
            crc.update(block, 0, fill);
            long c = crc.getValue();
            byte[] foot = {
                (byte) c, (byte) (c >> 8), (byte) (c >> 16), (byte) (c >> 24),
                (byte) fill, (byte) (fill >> 8), (byte) (fill >> 16), (byte) (fill >> 24)
            };
            out.write(foot);
            flushed += Bgzf.HEADER_LEN + n + Bgzf.FOOTER_LEN;
            fill = 0;
        }

        // ---- row access helpers (NULL or absent -> the spec default)

        private String str(InternalRow row, int idx, String dflt) {
            if (idx < 0 || row.isNullAt(idx)) return dflt;
            return row.getUTF8String(idx).toString();
        }

        private long num(InternalRow row, int idx, boolean isLong, long dflt) {
            if (idx < 0 || row.isNullAt(idx)) return dflt;
            return isLong ? row.getLong(idx) : row.getInt(idx);
        }

        /** Long-typed numeric columns must fit the spec's int32 fields —
         *  throw, like records.py's struct.pack, instead of silently
         *  truncating. */
        private static int i32(long v, String name) throws IOException {
            if (v < Integer.MIN_VALUE || v > Integer.MAX_VALUE) {
                throw new IOException(
                        "bam write: column '" + name + "' value " + v + " out of int32 range");
            }
            return (int) v;
        }

        @Override
        public void write(InternalRow row) throws IOException {
            rec.len = 0;
            String qname = str(row, cols.qname, "");
            long refIdx = num(row, cols.refIdx, cols.refIdxLong, Long.MIN_VALUE);
            if (refIdx == Long.MIN_VALUE) {
                String rn = str(row, cols.rname, null);
                Integer mapped = rn == null ? null : nameToIdx.get(rn);
                refIdx = mapped == null ? -1 : mapped;
            }
            long pos = num(row, cols.pos, cols.posLong, -1);
            int mapq = i32(num(row, cols.mapq, cols.mapqLong, 0), "mapq");
            int flag = i32(num(row, cols.flag, cols.flagLong, 0), "flag");
            long mateRef = num(row, cols.mateRefIdx, cols.mateRefIdxLong, -1);
            long matePos = num(row, cols.matePos, cols.matePosLong, -1);
            int tlen = i32(num(row, cols.tlen, cols.tlenLong, 0), "tlen");
            String cigarS = str(row, cols.cigar, "*");
            String seq = str(row, cols.seq, "");
            String qualS = str(row, cols.qual, "");

            byte[] nameB = qname.getBytes(java.nio.charset.StandardCharsets.US_ASCII);
            if (nameB.length > 254) {
                throw new IOException("bam write: qname longer than 254 bytes: " + qname);
            }
            int[] cigar = parseCigar(cigarS);
            int nCigar = cigar.length;
            int lSeq = seq.length();
            long refConsumed = 0;
            for (int c : cigar) {
                int op = c & 0xf;
                if (op == 0 || op == 2 || op == 3 || op == 7 || op == 8) refConsumed += c >>> 4;
            }
            long endPos = pos < 0 ? -1 : pos + refConsumed;
            int bin = pos >= 0 ? reg2bin(pos, Math.max(endPos, pos + 1)) : 0;
            // spec §4.2.2 long-cigar fallback (n_cigar_op is uint16): the
            // placeholder kSmN goes in the cigar field, the real ops into
            // a CG:B,I tag appended AFTER the Z tags — identical bytes to
            // records.py encode_record
            int[] cgWords = null;
            if (nCigar > 0xFFFF) {
                // placeholder op lengths are 28-bit fields; records.py's
                // struct.pack raises at the same bound — fail, never wrap
                // the shift
                if (lSeq > 0xFFFFFFF || refConsumed > 0xFFFFFFF) {
                    throw new IOException(
                            "bam write: long-cigar placeholder op length out of 28-bit"
                                    + " range (l_seq " + lSeq + ", ref consumed "
                                    + refConsumed + ")");
                }
                cgWords = cigar;
                cigar = new int[] {(lSeq << 4) | 4, ((int) refConsumed << 4) | 3};
                nCigar = 2;
            }

            rec.i32(i32(refIdx, "ref_idx"));
            rec.i32(i32(pos, "pos"));
            rec.u8(nameB.length + 1);
            rec.u8(mapq);
            rec.u16(bin);
            rec.u16(nCigar);
            rec.u16(flag);
            rec.i32(lSeq);
            rec.i32(i32(mateRef, "mate_ref_idx"));
            rec.i32(i32(matePos, "mate_pos"));
            rec.i32(tlen);
            rec.bytes(nameB, 0, nameB.length);
            rec.u8(0);
            for (int c : cigar) rec.i32(c);
            int nSeqBytes = (lSeq + 1) / 2;
            rec.reserve(nSeqBytes);
            int sOff = rec.len;
            for (int i = 0; i < nSeqBytes; i++) rec.buf[sOff + i] = 0;
            for (int i = 0; i < lSeq; i++) {
                char ch = seq.charAt(i);
                byte nib = ch < 128 ? SEQ_NIBBLE[ch] : 15;
                rec.buf[sOff + i / 2] |= (i % 2 == 0) ? (nib << 4) : nib;
            }
            rec.len += nSeqBytes;
            if (qualS.length() == lSeq) {
                for (int i = 0; i < lSeq; i++) {
                    int q = qualS.charAt(i) - 33;
                    rec.u8(Math.min(Math.max(q, 0), 255));
                }
            } else {
                for (int i = 0; i < lSeq; i++) rec.u8(0xFF);
            }
            if (cols.tags >= 0 && !row.isNullAt(cols.tags)) {
                MapData tags = row.getMap(cols.tags);
                TreeMap<String, String> sorted = new TreeMap<>();
                ArrayData keys = tags.keyArray();
                ArrayData vals = tags.valueArray();
                for (int i = 0; i < tags.numElements(); i++) {
                    UTF8String v = vals.isNullAt(i) ? null : vals.getUTF8String(i);
                    sorted.put(keys.getUTF8String(i).toString(), v == null ? "" : v.toString());
                }
                if (cgWords != null && sorted.containsKey("CG")) {
                    throw new IOException(
                            "bam write: cigar has >65535 ops and tags already carry a CG key"
                                    + " — ambiguous; drop the CG tag and put the real cigar"
                                    + " in 'cigar'");
                }
                for (Map.Entry<String, String> e : sorted.entrySet()) {
                    byte[] tag = e.getKey().getBytes(java.nio.charset.StandardCharsets.US_ASCII);
                    rec.bytes(tag, 0, Math.min(2, tag.length));
                    rec.u8('Z');
                    byte[] val = e.getValue().getBytes(java.nio.charset.StandardCharsets.US_ASCII);
                    rec.bytes(val, 0, val.length);
                    rec.u8(0);
                }
            }
            if (cgWords != null) {
                rec.u8('C');
                rec.u8('G');
                rec.u8('B');
                rec.u8('I');
                rec.i32(cgWords.length);
                for (int v : cgWords) rec.i32(v);
            }

            // length-prefix then stream into the block slicer
            long v0 = (flushed << 16) | fill;
            int bodyLen = rec.len;
            byte[] prefix = {
                (byte) bodyLen, (byte) (bodyLen >> 8), (byte) (bodyLen >> 16), (byte) (bodyLen >> 24)
            };
            append(prefix, 0, 4);
            append(rec.buf, 0, bodyLen);
            nRecords++;
            if (bai && (refIdx < 0 || refIdx >= nRefs || pos < 0)) {
                baiNoCoor++;
            }
            if (bai && refIdx >= 0 && refIdx < nRefs && pos >= 0) {
                // The BAI linear-index floor is only sound when voffsets are
                // monotone in (ref, pos) — the spec's coordinate-sort
                // contract (samtools index refuses unsorted BAMs the same
                // way).  Fail loudly instead of emitting an index that
                // silently misprunes.
                if (refIdx < prevRef || (refIdx == prevRef && pos < prevPos)) {
                    throw new IOException(
                            "bai=true requires coordinate-sorted partitions "
                                    + "(got ref " + refIdx + " pos " + pos + " after ref "
                                    + prevRef + " pos " + prevPos
                                    + "); sortWithinPartitions(\"ref_idx\", \"pos\") "
                                    + "before the write");
                }
                prevRef = refIdx;
                prevPos = pos;
                long v1 = (flushed << 16) | fill;
                long end = Math.max(endPos, pos + 1);
                TreeMap<Integer, java.util.ArrayList<long[]>> refBins =
                        baiBins.computeIfAbsent((int) refIdx, k -> new TreeMap<>());
                java.util.ArrayList<long[]> chunks =
                        refBins.computeIfAbsent(bin, k -> new java.util.ArrayList<>());
                if (!chunks.isEmpty() && chunks.get(chunks.size() - 1)[1] == v0) {
                    chunks.get(chunks.size() - 1)[1] = v1; // merge adjacent
                } else {
                    chunks.add(new long[] {v0, v1});
                }
                java.util.ArrayList<Long> lin =
                        baiLinear.computeIfAbsent((int) refIdx, k -> new java.util.ArrayList<>());
                int wEnd = (int) ((end - 1) >> 14); // 16 KiB linear windows
                while (lin.size() <= wEnd) lin.add(0L);
                for (int w = (int) (pos >> 14); w <= wEnd; w++) {
                    if (lin.get(w) == 0L || v0 < lin.get(w)) lin.set(w, v0);
                }
                // metadata pseudo-bin accumulators (samtools idxstats)
                long unm = (flag & 0x4) != 0 ? 1 : 0;
                long[] st = baiStats.get((int) refIdx);
                if (st == null) {
                    baiStats.put((int) refIdx, new long[] {v0, v1, 1 - unm, unm});
                } else {
                    st[0] = Math.min(st[0], v0);
                    st[1] = Math.max(st[1], v1);
                    st[2] += 1 - unm;
                    st[3] += unm;
                }
            }
        }

        static int[] parseCigar(String s) throws IOException {
            if (s == null || s.isEmpty() || s.equals("*")) return new int[0];
            int nOps = 0;
            for (int i = 0; i < s.length(); i++) {
                if (!Character.isDigit(s.charAt(i))) nOps++;
            }
            int[] out = new int[nOps];
            int k = 0;
            long num = 0;
            boolean sawDigit = false;
            for (int i = 0; i < s.length(); i++) {
                char ch = s.charAt(i);
                if (ch >= '0' && ch <= '9') {
                    num = num * 10 + (ch - '0');
                    sawDigit = true;
                } else {
                    int op = CIGAR_OPS.indexOf(ch);
                    if (op < 0 || !sawDigit) {
                        throw new IOException(
                                "invalid cigar string '" + s + "': expected (<digits><op in "
                                        + CIGAR_OPS + ">)*");
                    }
                    out[k++] = (int) ((num << 4) | op);
                    num = 0;
                    sawDigit = false;
                }
            }
            if (sawDigit) throw new IOException("invalid cigar string '" + s + "': trailing digits");
            return out;
        }

        /** Spec §5.2 BAI binary encoding of the accumulated index. */
        private byte[] encodeBai() {
            Grow o = new Grow(1024);
            o.bytes(new byte[] {'B', 'A', 'I', 1}, 0, 4);
            o.i32(nRefs);
            for (int r = 0; r < nRefs; r++) {
                TreeMap<Integer, java.util.ArrayList<long[]>> refBins = baiBins.get(r);
                java.util.ArrayList<Long> lin = baiLinear.get(r);
                long[] st = baiStats.get(r);
                o.i32((refBins == null ? 0 : refBins.size()) + (st == null ? 0 : 1));
                if (refBins != null) {
                    for (Map.Entry<Integer, java.util.ArrayList<long[]>> e : refBins.entrySet()) {
                        o.i32(e.getKey());
                        o.i32(e.getValue().size());
                        for (long[] c : e.getValue()) {
                            o.i64(c[0]);
                            o.i64(c[1]);
                        }
                    }
                }
                if (st != null) {
                    // metadata pseudo-bin, always last (37450 > any real bin):
                    // chunk 1 = ref voffset span, chunk 2 = (n_mapped, n_unmapped)
                    o.i32(37450);
                    o.i32(2);
                    o.i64(st[0]);
                    o.i64(st[1]);
                    o.i64(st[2]);
                    o.i64(st[3]);
                }
                o.i32(lin == null ? 0 : lin.size());
                if (lin != null) {
                    for (long v : lin) o.i64(v);
                }
            }
            o.i64(baiNoCoor);
            return o.toArray();
        }

        @Override
        public WriterCommitMessage commit() throws IOException {
            flushBlock();
            out.write(EOF_BLOCK);
            out.close();
            closed = true;
            // part names are job-unique (partitionId + write UUID), so an
            // existing final path can only be an earlier ATTEMPT of this
            // same task (crash between rename and task-success ack, or a
            // speculative twin) — replace it so the retry self-heals;
            // another job's data can never collide on this name
            if (fs.exists(finalPath)) {
                fs.delete(finalPath, false);
            }
            if (!fs.rename(tmpPath, finalPath)) {
                throw new IOException("bam write: rename " + tmpPath + " -> " + finalPath + " failed");
            }
            if (bai) {
                Path baiTmp = tmpPath.suffix(".bai");
                Path baiFinal = finalPath.suffix(".bai");
                try (FSDataOutputStream b = fs.create(baiTmp, true)) {
                    b.write(encodeBai());
                }
                if (fs.exists(baiFinal)) {
                    fs.delete(baiFinal, false);
                }
                if (!fs.rename(baiTmp, baiFinal)) {
                    throw new IOException("bam write: rename " + baiTmp + " -> " + baiFinal + " failed");
                }
            }
            return new BamCommitMessage(finalPath.toString(), nRecords);
        }

        @Override
        public void abort() throws IOException {
            if (!closed) {
                try { out.close(); } catch (IOException ignored) { }
                closed = true;
            }
            fs.delete(tmpPath, false);
            if (bai) fs.delete(tmpPath.suffix(".bai"), false);
        }

        @Override
        public void close() {
            deflater.close();
            if (!closed) {
                try { out.close(); } catch (IOException ignored) { }
                closed = true;
            }
        }
    }
}
