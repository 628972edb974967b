package bamjvm;

import java.io.IOException;
import java.io.Serializable;
import java.io.UncheckedIOException;
import java.util.ArrayList;
import java.util.HashMap;
import java.util.HashSet;
import java.util.List;
import java.util.Map;
import java.util.Set;
import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.BlockLocation;
import org.apache.hadoop.fs.FSDataInputStream;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.spark.broadcast.Broadcast;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow;
import org.apache.spark.sql.connector.catalog.SupportsRead;
import org.apache.spark.sql.connector.catalog.Table;
import org.apache.spark.sql.connector.catalog.TableCapability;
import org.apache.spark.sql.connector.catalog.TableProvider;
import org.apache.spark.sql.connector.expressions.Transform;
import org.apache.spark.sql.connector.read.Batch;
import org.apache.spark.sql.connector.read.InputPartition;
import org.apache.spark.sql.connector.read.PartitionReader;
import org.apache.spark.sql.connector.read.PartitionReaderFactory;
import org.apache.spark.sql.connector.read.Scan;
import org.apache.spark.sql.connector.read.ScanBuilder;
import org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;
import org.apache.spark.unsafe.types.UTF8String;
import org.apache.spark.util.SerializableConfiguration;

/**
 * The engine's BGZF blocks-metadata source (S9, the reference's
 * Blocks.scala:47-208 as behavior; oracle: bgzf.py metadata_stream):
 * parallel in-file block
 * discovery — one partition per byte split, header-only walk (payloads
 * skipped), no sidecar required.  Same split-ownership rule as the
 * record reader: a split emits the blocks whose header starts in
 * [start, end), re-syncing on the first block boundary at/after start.
 *
 * Shares the record reader's planning conventions: {@link SplitPlanner}'s
 * split sizing (whole waves of the session's parallelism, or the fixed
 * split_size stride), byte-ranges option, locality hints, session Hadoop
 * conf propagation.
 */
public class BlocksSource implements TableProvider {

    static StructType fullSchema() {
        return new StructType()
                .add("path", DataTypes.StringType)
                .add("start", DataTypes.LongType)
                .add("compressed_size", DataTypes.IntegerType)
                .add("uncompressed_size", DataTypes.IntegerType);
    }

    @Override
    public StructType inferSchema(CaseInsensitiveStringMap options) {
        return fullSchema();
    }

    @Override
    public Table getTable(StructType schema, Transform[] partitioning, Map<String, String> properties) {
        return new BlocksTable(new HashMap<>(properties));
    }

    static final class BlocksTable implements Table, SupportsRead {
        private final Map<String, String> properties;

        BlocksTable(Map<String, String> properties) {
            this.properties = properties;
        }

        @Override
        public String name() {
            return "bamjvm_blocks(" + properties.getOrDefault("path", "?") + ")";
        }

        @Override
        public StructType schema() {
            return fullSchema();
        }

        @Override
        public Set<TableCapability> capabilities() {
            Set<TableCapability> caps = new HashSet<>();
            caps.add(TableCapability.BATCH_READ);
            return caps;
        }

        @Override
        public ScanBuilder newScanBuilder(CaseInsensitiveStringMap options) {
            return new BlocksScanBuilder(options.asCaseSensitiveMap());
        }
    }

    static final class BlocksScanBuilder implements ScanBuilder, SupportsPushDownRequiredColumns {
        private final Map<String, String> options;
        private StructType required = fullSchema();

        BlocksScanBuilder(Map<String, String> options) {
            this.options = options;
        }

        @Override
        public void pruneColumns(StructType requiredSchema) {
            this.required = requiredSchema;
        }

        @Override
        public Scan build() {
            return new BlocksScan(options, required);
        }
    }

    static final class BlocksScan implements Scan, Batch {
        private final Map<String, String> options;
        private final StructType required;
        private InputPartition[] planned;

        BlocksScan(Map<String, String> options, StructType required) {
            this.options = options;
            this.required = required;
        }

        @Override
        public StructType readSchema() {
            return required;
        }

        @Override
        public Batch toBatch() {
            return this;
        }

        /** Planned once per scan object, as BamScan.planInputPartitions. */
        @Override
        public synchronized InputPartition[] planInputPartitions() {
            if (planned == null) {
                planned = planSplits();
            }
            return planned;
        }

        private InputPartition[] planSplits() {
            String pathOpt = options.get("path");
            if (pathOpt == null) {
                throw new IllegalArgumentException("bamjvm blocks source requires a path");
            }
            try {
                Path root = new Path(pathOpt);
                FileSystem fs = root.getFileSystem(BamDataSource.sessionConf());
                List<FileStatus> files = BamDataSource.BamScan.listBamFiles(fs, root);
                String sizeOpt = options.get("split_size");
                SplitPlanner planner =
                        SplitPlanner.of(files, sizeOpt == null ? -1 : Long.parseLong(sizeOpt));
                String rangesOpt = options.get("ranges");
                List<long[]> byteRanges =
                        rangesOpt == null ? null : BamDataSource.BamScan.parseByteRanges(rangesOpt);
                // per-file locality RPC on a bounded pool (see
                // BamScan.mapFiles): file-order output keeps the plan
                // byte-identical to the sequential one
                List<List<InputPartition>> perFile = BamDataSource.BamScan.mapFiles(files, f -> {
                    BlockLocation[] blockLocs;
                    try {
                        blockLocs = fs.getFileBlockLocations(f, 0, f.getLen());
                    } catch (IOException e) {
                        blockLocs = new BlockLocation[0];
                    }
                    // the path COLUMN is opened directly by the
                    // downstream QA pipelines: raw
                    // filesystem path for the local scheme, full URI for
                    // remote stores
                    String emitted = "file".equals(f.getPath().toUri().getScheme())
                            ? f.getPath().toUri().getPath()
                            : f.getPath().toString();
                    List<InputPartition> out = new ArrayList<>();
                    for (long[] r : planner.ranges(f)) {
                        out.add(new BlockSplit(emitted, r[0], r[1], byteRanges,
                                BamDataSource.BamScan.hostsFor(blockLocs, r[0], r[1])));
                    }
                    return out;
                });
                List<InputPartition> splits = new ArrayList<>();
                for (List<InputPartition> fileSplits : perFile) {
                    splits.addAll(fileSplits);
                }
                return splits.toArray(new InputPartition[0]);
            } catch (IOException e) {
                throw new UncheckedIOException(e);
            }
        }

        @Override
        public PartitionReaderFactory createReaderFactory() {
            return new BlocksReaderFactory(required, BamDataSource.broadcastConf());
        }
    }

    static final class BlockSplit implements InputPartition, Serializable {
        private static final long serialVersionUID = 1L;

        final String path;
        final long start;
        final long end;
        final long[][] byteRanges; // null = no selection
        final String[] hosts;

        BlockSplit(String path, long start, long end, List<long[]> byteRanges, String[] hosts) {
            this.path = path;
            this.start = start;
            this.end = end;
            this.byteRanges = byteRanges == null ? null : byteRanges.toArray(new long[0][]);
            this.hosts = hosts == null ? new String[0] : hosts;
        }

        @Override
        public String[] preferredLocations() {
            return hosts;
        }

        @Override
        public String toString() {
            return "BlockSplit(" + path + " [" + start + ", " + end + "))";
        }
    }

    static final class BlocksReaderFactory implements PartitionReaderFactory {
        private static final long serialVersionUID = 1L;

        private final StructType required;
        private final Broadcast<SerializableConfiguration> conf;

        BlocksReaderFactory(StructType required, Broadcast<SerializableConfiguration> conf) {
            this.required = required;
            this.conf = conf;
        }

        @Override
        public PartitionReader<InternalRow> createReader(InputPartition partition) {
            return new BlocksPartitionReader((BlockSplit) partition, required, conf.value().value());
        }
    }

    /**
     * Header-only block walk: positioned reads of the 18-byte BGZF
     * header plus the 4-byte ISIZE footer per block — no payload bytes
     * touched, no inflater.  Stops at split end (next split owns the
     * block starting there), at the standard ISIZE=0 EOF block, or at a
     * non-BGZF header (trailing garbage tolerated).
     */
    static final class BlocksPartitionReader implements PartitionReader<InternalRow> {
        private final BlockSplit split;
        private final StructField[] fields;
        private FSDataInputStream in;
        private final UTF8String pathStr;
        private long cpos;
        private boolean opened = false;
        private boolean done = false;
        private final byte[] head = new byte[Bgzf.HEADER_LEN];
        private final byte[] foot = new byte[4];
        private InternalRow current;
        private final Configuration conf;

        BlocksPartitionReader(BlockSplit split, StructType required, Configuration conf) {
            this.split = split;
            this.fields = required.fields();
            this.pathStr = UTF8String.fromString(split.path);
            this.conf = conf;
        }

        private void open() throws IOException {
            opened = true;
            Path p = new Path(split.path);
            FileSystem fs = p.getFileSystem(conf);
            in = fs.open(p);
            if (split.start == 0) {
                cpos = 0;
                return;
            }
            byte[] probe = new byte[Bgzf.MAX_BLOCK_SIZE * 2];
            int got = readAt(split.start, probe, probe.length);
            int rel = got <= 0 ? -1 : Bgzf.findBlockStart(probe, got, 0);
            if (rel < 0) {
                done = true;
                return;
            }
            cpos = split.start + rel;
        }

        private int readAt(long pos, byte[] dst, int want) throws IOException {
            int total = 0;
            while (total < want) {
                int got = in.read(pos + total, dst, total, want - total);
                if (got <= 0) {
                    break;
                }
                total += got;
            }
            return total;
        }

        @Override
        public boolean next() throws IOException {
            if (!opened) {
                open();
            }
            while (!done && cpos < split.end) {
                if (readAt(cpos, head, Bgzf.HEADER_LEN) < Bgzf.HEADER_LEN) {
                    done = true;
                    return false;
                }
                int bsize = Bgzf.parseBlockHeader(head, 0, Bgzf.HEADER_LEN);
                if (bsize < 0) {
                    done = true;
                    return false;
                }
                if (readAt(cpos + bsize - 4, foot, 4) < 4) {
                    done = true;
                    return false;
                }
                long isize = Bgzf.i32(foot, 0) & 0xFFFFFFFFL;
                if (isize == 0) {
                    done = true; // standard BGZF EOF block
                    return false;
                }
                long at = cpos;
                cpos += bsize;
                if (split.byteRanges != null) {
                    boolean hit = false;
                    for (long[] br : split.byteRanges) {
                        if (br[0] <= at && at < br[1]) {
                            hit = true;
                            break;
                        }
                    }
                    if (!hit) {
                        continue;
                    }
                }
                Object[] vals = new Object[fields.length];
                for (int i = 0; i < fields.length; i++) {
                    switch (fields[i].name()) {
                        case "path":
                            vals[i] = pathStr;
                            break;
                        case "start":
                            vals[i] = at;
                            break;
                        case "compressed_size":
                            vals[i] = bsize;
                            break;
                        case "uncompressed_size":
                            vals[i] = (int) isize;
                            break;
                        default:
                            throw new IllegalStateException("unknown column " + fields[i].name());
                    }
                }
                current = new GenericInternalRow(vals);
                return true;
            }
            return false;
        }

        @Override
        public InternalRow get() {
            return current;
        }

        @Override
        public void close() throws IOException {
            if (in != null) {
                in.close();
            }
        }
    }
}
