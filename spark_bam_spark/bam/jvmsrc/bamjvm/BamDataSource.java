package bamjvm;

import java.io.IOException;
import java.io.Serializable;
import java.io.UncheckedIOException;
import java.util.ArrayList;
import java.util.Arrays;
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
import org.apache.spark.api.java.JavaSparkContext;
import org.apache.spark.broadcast.Broadcast;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.connector.catalog.SupportsRead;
import org.apache.spark.sql.connector.catalog.SupportsWrite;
import org.apache.spark.sql.connector.catalog.Table;
import org.apache.spark.sql.connector.catalog.TableCapability;
import org.apache.spark.sql.connector.catalog.TableProvider;
import org.apache.spark.sql.connector.write.LogicalWriteInfo;
import org.apache.spark.sql.connector.write.WriteBuilder;
import org.apache.spark.sql.connector.expressions.Transform;
import org.apache.spark.sql.connector.read.Batch;
import org.apache.spark.sql.connector.read.InputPartition;
import org.apache.spark.sql.connector.read.PartitionReader;
import org.apache.spark.sql.connector.read.PartitionReaderFactory;
import org.apache.spark.sql.connector.read.Scan;
import org.apache.spark.sql.connector.read.ScanBuilder;
import org.apache.spark.sql.connector.read.SupportsPushDownFilters;
import org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns;
import org.apache.spark.sql.sources.EqualTo;
import org.apache.spark.sql.sources.Filter;
import org.apache.spark.sql.sources.GreaterThan;
import org.apache.spark.sql.sources.GreaterThanOrEqual;
import org.apache.spark.sql.sources.In;
import org.apache.spark.sql.sources.LessThan;
import org.apache.spark.sql.sources.LessThanOrEqual;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;
import org.apache.spark.util.SerializableConfiguration;

/**
 * JVM-native splittable BAM DataSourceV2 — the engine's BAM scan and
 * sink ({@code spark_bam_spark.bam.reader}).  The decode hot path runs
 * compiled inside the executor JVM; the pure-Python codec
 * (spark_bam_spark/bam/records.py, checker.py) is the independent oracle
 * the tests compare its rows with.  Reference behavior parity:
 * load/.../CanLoadBam.scala (loadBam), SplitRDD per-range re-sync (cited,
 * not copied — this is an original implementation against the public
 * SAM/BAM spec and the Spark DataSourceV2 API).
 *
 * Column pruning is handled by Catalyst via
 * SupportsPushDownRequiredColumns: only requested columns are decoded.
 */
public class BamDataSource implements TableProvider {

    /**
     * The session's Hadoop conf (spark.hadoop.*, object store
     * credentials, defaultFS), read on the driver for listing, headers,
     * BAI and mkdirs.
     */
    static Configuration sessionConf() {
        return SparkSession.active().sparkContext().hadoopConfiguration();
    }

    /**
     * The session's Hadoop conf as one broadcast per reader or writer
     * factory, so tasks read it with {@code .value().value()} instead of
     * each deserializing the whole conf from the task binary.  Spark's
     * {@link SerializableConfiguration}, not a bamjvm class: the jar is
     * loaded by different classloaders on the driver and in tasks, and in
     * local mode a task receives the driver's object itself.  Spark's
     * ContextCleaner releases the broadcast once the factory is
     * unreachable.
     */
    static Broadcast<SerializableConfiguration> broadcastConf() {
        JavaSparkContext jsc = JavaSparkContext.fromSparkContext(SparkSession.active().sparkContext());
        return jsc.broadcast(new SerializableConfiguration(jsc.hadoopConfiguration()));
    }

    static StructType fullSchema() {
        return new StructType()
                .add("qname", DataTypes.StringType)
                .add("flag", DataTypes.IntegerType)
                .add("ref_idx", DataTypes.IntegerType)
                .add("rname", DataTypes.StringType)
                .add("pos", DataTypes.LongType)
                .add("end_pos", DataTypes.LongType)
                .add("mapq", DataTypes.IntegerType)
                .add("cigar", DataTypes.StringType)
                .add("n_cigar_ops", DataTypes.IntegerType)
                .add("mate_ref_idx", DataTypes.IntegerType)
                .add("mate_pos", DataTypes.LongType)
                .add("tlen", DataTypes.IntegerType)
                .add("seq", DataTypes.StringType)
                .add("seq_len", DataTypes.IntegerType)
                .add("qual", DataTypes.StringType)
                .add("tags", DataTypes.createMapType(DataTypes.StringType, DataTypes.StringType))
                .add("block_pos", DataTypes.LongType)
                .add("offset", DataTypes.IntegerType);
    }

    @Override
    public StructType inferSchema(CaseInsensitiveStringMap options) {
        return fullSchema();
    }

    @Override
    public Table getTable(StructType schema, Transform[] partitioning, Map<String, String> properties) {
        return new BamTable(schema, new HashMap<>(properties));
    }

    /**
     * Lets Spark hand the WRITE query's schema to {@link #getTable} instead
     * of calling {@link #inferSchema} (DataFrameWriter passes
     * {@code df.schema} when this is true), so {@code df.write} with any
     * SUBSET of the logical columns passes AppendData's by-position
     * validation (the any-subset column contract of BamWriteSupport).
     * Reads are unaffected: without a user-specified schema the inferred
     * schema is {@link #fullSchema()} either way.
     */
    @Override
    public boolean supportsExternalMetadata() {
        return true;
    }

    // ---------------------------------------------------------------- table

    static final class BamTable implements Table, SupportsRead, SupportsWrite {
        private final StructType schema;
        private final Map<String, String> properties;

        BamTable(StructType schema, Map<String, String> properties) {
            this.schema = schema == null ? fullSchema() : schema;
            this.properties = properties;
        }

        @Override
        public String name() {
            return "bamjvm(" + properties.getOrDefault("path", "?") + ")";
        }

        @Override
        public StructType schema() {
            return schema;
        }

        @Override
        public Set<TableCapability> capabilities() {
            Set<TableCapability> caps = new HashSet<>();
            caps.add(TableCapability.BATCH_READ);
            caps.add(TableCapability.BATCH_WRITE);
            caps.add(TableCapability.TRUNCATE); // df.write.mode("overwrite")
            return caps;
        }

        @Override
        public ScanBuilder newScanBuilder(CaseInsensitiveStringMap options) {
            // supportsExternalMetadata() exists for the WRITE side; a
            // user-specified READ schema is only honored when each field
            // matches the real column's name and type — the readers
            // resolve columns by name with fixed types, so e.g. pos
            // declared as string would otherwise yield corrupt rows or a
            // ClassCastException deep in execution instead of this error
            StructType full = fullSchema();
            for (org.apache.spark.sql.types.StructField f : schema.fields()) {
                int idx;
                try {
                    idx = full.fieldIndex(f.name());
                } catch (IllegalArgumentException e) {
                    throw new IllegalArgumentException(
                            "bam read: unknown column '" + f.name() + "' in user schema;"
                                    + " available: " + String.join(", ", full.fieldNames()));
                }
                if (!f.dataType().sameType(full.fields()[idx].dataType())) {
                    throw new IllegalArgumentException(
                            "bam read: column '" + f.name() + "' must be "
                                    + full.fields()[idx].dataType().sql() + ", got "
                                    + f.dataType().sql());
                }
            }
            return new BamScanBuilder(options.asCaseSensitiveMap());
        }

        @Override
        public WriteBuilder newWriteBuilder(LogicalWriteInfo info) {
            return new BamWriteSupport.BamWriteBuilder(info);
        }
    }

    static final class BamScanBuilder
            implements ScanBuilder, SupportsPushDownRequiredColumns, SupportsPushDownFilters {
        private final Map<String, String> options;
        private StructType required = fullSchema();
        private final Pushdown pushdown = new Pushdown();
        private Filter[] accepted = new Filter[0];

        BamScanBuilder(Map<String, String> options) {
            this.options = options;
        }

        @Override
        public void pruneColumns(StructType requiredSchema) {
            this.required = requiredSchema;
        }

        @Override
        public Filter[] pushFilters(Filter[] filters) {
            // Collect rname/ref_idx equality and pos bounds for BAI
            // pruning, but keep EVERY filter residual (return all):
            // pruning can only skip byte ranges, never substitute for the
            // predicate.  Contig
            // NAMES are absorbed as names and resolved against EACH file's
            // own reference dictionary at planInputPartitions time (the
            // per-file header is already parsed there), so a directory of
            // .bam files with divergent dictionaries prunes each file by
            // its own name->ref_idx mapping instead of the first file's.
            List<Filter> used = new ArrayList<>();
            for (Filter f : filters) {
                if (pushdown.absorb(f)) {
                    used.add(f);
                }
            }
            accepted = used.toArray(new Filter[0]);
            return filters;
        }

        @Override
        public Filter[] pushedFilters() {
            return accepted; // display-only: the ranges we prune with
        }

        @Override
        public Scan build() {
            return new BamScan(options, required, pushdown);
        }
    }

    /**
     * Pushed predicate state: rname equality NAMES + raw ref_idx set +
     * pos bounds — drives BAI chunk pruning at planning time.
     * Absorbing a filter never relaxes anything.  Names are stored
     * unresolved and mapped to ref indices per FILE ({@link #effectiveRefIdxs})
     * against that file's own dictionary; a pushed name absent from a
     * file's dictionary contributes no candidate refs for that file,
     * which is exact (rname equality can never match there — rname is
     * either null or a dictionary name).
     */
    static final class Pushdown implements Serializable {
        private static final long serialVersionUID = 2L;

        Set<String> refNames = null;
        Set<Integer> rawRefIdxs = null;
        Long posLo = null;
        Long posHi = null;

        boolean active() {
            return refNames != null || rawRefIdxs != null || posLo != null || posHi != null;
        }

        private void addName(String name) {
            if (refNames == null) {
                refNames = new HashSet<>();
            }
            refNames.add(name);
        }

        /**
         * The candidate ref_idx set for ONE file's dictionary, or null
         * when no ref constraint was pushed (a pos-only filter).  May be
         * empty: every pushed name missing from this file's dictionary
         * means no block of this file can satisfy the conjunction, so an
         * empty set correctly prunes the whole file.
         */
        Set<Integer> effectiveRefIdxs(String[] names) {
            if (refNames == null && rawRefIdxs == null) {
                return null;
            }
            Set<Integer> out = new HashSet<>();
            if (rawRefIdxs != null) {
                out.addAll(rawRefIdxs);
            }
            if (refNames != null) {
                Map<String, Integer> nameToIdx = new HashMap<>();
                for (int i = 0; i < names.length; i++) {
                    nameToIdx.put(names[i], i);
                }
                for (String n : refNames) {
                    Integer idx = nameToIdx.get(n);
                    if (idx != null) {
                        out.add(idx);
                    }
                }
            }
            return out;
        }

        boolean absorb(Filter f) {
            if (f instanceof EqualTo) {
                EqualTo eq = (EqualTo) f;
                if ("rname".equals(eq.attribute()) && eq.value() != null) {
                    addName(String.valueOf(eq.value()));
                    return true;
                }
                if ("ref_idx".equals(eq.attribute()) && eq.value() instanceof Number) {
                    if (rawRefIdxs == null) {
                        rawRefIdxs = new HashSet<>();
                    }
                    rawRefIdxs.add(((Number) eq.value()).intValue());
                    return true;
                }
                return false;
            }
            if (f instanceof In && "rname".equals(((In) f).attribute())) {
                if (refNames == null) {
                    refNames = new HashSet<>();
                }
                for (Object v : ((In) f).values()) {
                    if (v != null) {
                        refNames.add(String.valueOf(v));
                    }
                }
                return true;
            }
            if (f instanceof GreaterThan && "pos".equals(((GreaterThan) f).attribute())) {
                long v = ((Number) ((GreaterThan) f).value()).longValue() + 1;
                posLo = posLo == null ? v : Math.max(posLo, v);
                return true;
            }
            if (f instanceof GreaterThanOrEqual && "pos".equals(((GreaterThanOrEqual) f).attribute())) {
                long v = ((Number) ((GreaterThanOrEqual) f).value()).longValue();
                posLo = posLo == null ? v : Math.max(posLo, v);
                return true;
            }
            if (f instanceof LessThan && "pos".equals(((LessThan) f).attribute())) {
                long v = ((Number) ((LessThan) f).value()).longValue() - 1;
                posHi = posHi == null ? v : Math.min(posHi, v);
                return true;
            }
            if (f instanceof LessThanOrEqual && "pos".equals(((LessThanOrEqual) f).attribute())) {
                long v = ((Number) ((LessThanOrEqual) f).value()).longValue();
                posHi = posHi == null ? v : Math.min(posHi, v);
                return true;
            }
            return false;
        }
    }

    // ----------------------------------------------------------------- scan

    static final class BamScan implements Scan, Batch {
        private final Map<String, String> options;
        private final StructType required;
        private final Pushdown pushdown;
        private InputPartition[] planned;

        BamScan(Map<String, String> options, StructType required, Pushdown pushdown) {
            this.options = options;
            this.required = required;
            this.pushdown = pushdown;
        }

        @Override
        public StructType readSchema() {
            return required;
        }

        @Override
        public Batch toBatch() {
            return this;
        }

        private long optLong(String key, long dflt) {
            String v = options.get(key);
            return v == null ? dflt : Long.parseLong(v);
        }

        /**
         * '0-10m,1g-' → {{0, 10 MiB}, {1 GiB, 2^62}} — the CLI's
         * ByteRanges argument (P3): k/m/g suffixes, open ends.
         */
        static List<long[]> parseByteRanges(String spec) {
            List<long[]> out = new ArrayList<>();
            for (String part : spec.split(",")) {
                int dash = part.indexOf('-');
                String loS = dash < 0 ? part : part.substring(0, dash);
                String hiS = dash < 0 ? "" : part.substring(dash + 1);
                out.add(new long[] {
                    parseByteNum(loS), hiS.trim().isEmpty() ? (1L << 62) : parseByteNum(hiS),
                });
            }
            return out;
        }

        private static long parseByteNum(String tok) {
            tok = tok.trim().toLowerCase();
            long unit = 1;
            if (!tok.isEmpty()) {
                char c = tok.charAt(tok.length() - 1);
                if (c == 'k' || c == 'm' || c == 'g') {
                    unit = c == 'k' ? 1L << 10 : c == 'm' ? 1L << 20 : 1L << 30;
                    tok = tok.substring(0, tok.length() - 1);
                }
            }
            return tok.isEmpty() ? 0 : (long) (Double.parseDouble(tok) * unit);
        }

        /** Root path from options (required). */
        Path rootPath() {
            String pathOpt = options.get("path");
            if (pathOpt == null) {
                throw new IllegalArgumentException("bamjvm source requires a path");
            }
            return new Path(pathOpt);
        }

        /**
         * Stable .bam listing under root (name-sorted; a plain file lists
         * as itself).  Only the root's own files count: in-progress writer
         * temp files (.bam.inprogress), .bai/.records sidecars and
         * subdirectories never match, so a concurrently-writing job's torn
         * files are invisible to the reads and blocks scans.
         */
        static List<FileStatus> listBamFiles(FileSystem fs, Path root) throws IOException {
            List<FileStatus> files = new ArrayList<>();
            FileStatus rootStatus = fs.getFileStatus(root);
            if (rootStatus.isDirectory()) {
                FileStatus[] children = fs.listStatus(root);
                Arrays.sort(children, (a, b) -> a.getPath().getName().compareTo(b.getPath().getName()));
                for (FileStatus c : children) {
                    if (c.isFile() && c.getPath().getName().endsWith(".bam")) {
                        files.add(c);
                    }
                }
            } else {
                files.add(rootStatus);
            }
            return files;
        }

        /** Split planning: one batch of BamSplits over the root's listed
         *  .bam files, each read by a BamColumnarReader.  Spark plans two
         *  BatchScanExec nodes over one scan object per action, and each
         *  asks for the partitions, so the first plan is kept: every
         *  header and .bai is read once per action. */
        @Override
        public synchronized InputPartition[] planInputPartitions() {
            if (planned == null) {
                planned = planSplits();
            }
            return planned;
        }

        private InputPartition[] planSplits() {
            try {
                FileSystem fs = rootPath().getFileSystem(sessionConf());
                List<FileStatus> files = listBamFiles(fs, rootPath());
                int readsToCheck = (int) optLong("reads_to_check", Checker.DEFAULT_READS_TO_CHECK);
                long maxReadSize = optLong("max_read_size", Checker.DEFAULT_MAX_READ_SIZE);
                boolean permissive = "permissive".equals(options.getOrDefault("mode", "failfast"));
                // whole waves of the session's parallelism, or the fixed
                // split_size stride (SplitPlanner has the rule)
                SplitPlanner planner = SplitPlanner.of(files, optLong("split_size", -1));
                double ratio = Double.parseDouble(options.getOrDefault("compression_ratio", "3.0"));
                String rangesOpt = options.get("ranges");
                List<long[]> byteRanges = rangesOpt == null ? null : parseByteRanges(rangesOpt);
                // Per-file planning (header parse + locality RPC + index
                // lookup + split construction) runs on a bounded pool:
                // each file costs 2-4 round trips, which is invisible on a
                // local FS but minutes of SERIAL driver time for thousands
                // of files on an object store.  Results are flattened in
                // file order, so the split list is byte-identical to the
                // sequential plan.
                List<List<InputPartition>> perFile =
                        mapFiles(files, f -> planFile(fs, f, planner, ratio, byteRanges,
                                readsToCheck, maxReadSize, permissive));
                List<InputPartition> splits = new ArrayList<>();
                for (List<InputPartition> fileSplits : perFile) {
                    splits.addAll(fileSplits);
                }
                return splits.toArray(new InputPartition[0]);
            } catch (IOException e) {
                throw new UncheckedIOException(e);
            }
        }

        private List<InputPartition> planFile(FileSystem fs, FileStatus f, SplitPlanner planner,
                double ratio, List<long[]> byteRanges, int readsToCheck, long maxReadSize,
                boolean permissive) throws IOException {
            List<InputPartition> splits = new ArrayList<>();
            String p = f.getPath().toString();
            HeaderData hdr;
            try (FSDataInputStream in = fs.open(f.getPath())) {
                BamWindow win = new BamWindow(in, 0);
                try {
                    if (win.empty) {
                        return splits;
                    }
                    hdr = HeaderData.parse(win);
                } finally {
                    win.release();
                }
            }
            long size = f.getLen();
            // one locality RPC per FILE (not per split); splits intersect
            // these locally below.  Object stores report "localhost" or
            // nothing — both degrade to no hint.
            BlockLocation[] blockLocs;
            try {
                blockLocs = fs.getFileBlockLocations(f, 0, size);
            } catch (IOException e) {
                blockLocs = new BlockLocation[0];
            }
            List<long[]> cand = candidateRanges(fs, f, hdr);
            if (cand != null) {
                // indexed scan: pack surviving block ranges into
                // partitions by estimated uncompressed cost, so the
                // partition count tracks surviving data volume
                List<long[]> clipped = new ArrayList<>();
                for (long[] r : cand) {
                    long lo = Math.max(r[0], 0);
                    long hi = Math.min(r[1], size);
                    if (byteRanges == null) {
                        clipped.add(new long[] {lo, hi});
                        continue;
                    }
                    for (long[] br : byteRanges) {
                        if (lo < br[1] && hi > br[0]) {
                            clipped.add(new long[] {Math.max(lo, br[0]), Math.min(hi, br[1])});
                        }
                    }
                }
                for (List<long[]> group : packRanges(clipped, planner.target, ratio)) {
                    long[] lows = new long[group.size()];
                    long[] highs = new long[group.size()];
                    for (int i = 0; i < group.size(); i++) {
                        lows[i] = group.get(i)[0];
                        highs[i] = group.get(i)[1];
                    }
                    splits.add(new BamSplit(p, lows[0], highs[highs.length - 1], hdr,
                            readsToCheck, maxReadSize, permissive, lows, highs,
                            hostsFor(blockLocs, lows[0], highs[highs.length - 1])));
                }
                return splits;
            }
            for (long[] r : planner.ranges(f)) {
                long s = r[0];
                long e = r[1];
                if (byteRanges != null) {
                    boolean hit = false;
                    for (long[] br : byteRanges) {
                        if (br[0] < e && br[1] > s) {
                            hit = true;
                            break;
                        }
                    }
                    if (!hit) {
                        continue;
                    }
                }
                splits.add(new BamSplit(p, s, e, hdr, readsToCheck, maxReadSize,
                        permissive, null, null, hostsFor(blockLocs, s, e)));
            }
            return splits;
        }

        interface FilePlanner<T> {
            T plan(FileStatus f) throws IOException;
        }

        /**
         * Run {@code planner} over every file on a bounded thread pool
         * and return the results in FILE ORDER (the parallelism is an
         * I/O-latency optimization only — the plan must be byte-identical
         * to the sequential one).  Single-file inputs skip the pool.
         */
        static <T> List<T> mapFiles(List<FileStatus> files, FilePlanner<T> planner)
                throws IOException {
            if (files.size() <= 1) {
                List<T> out = new ArrayList<>();
                for (FileStatus f : files) {
                    out.add(planner.plan(f));
                }
                return out;
            }
            int threads = Math.min(16, files.size());
            java.util.concurrent.ExecutorService pool =
                    java.util.concurrent.Executors.newFixedThreadPool(threads, r -> {
                        Thread t = new Thread(r, "bamjvm-plan");
                        t.setDaemon(true);
                        return t;
                    });
            try {
                List<java.util.concurrent.Future<T>> futures = new ArrayList<>();
                for (FileStatus f : files) {
                    futures.add(pool.submit(() -> planner.plan(f)));
                }
                List<T> out = new ArrayList<>();
                for (java.util.concurrent.Future<T> fut : futures) {
                    out.add(fut.get());
                }
                return out;
            } catch (InterruptedException e) {
                Thread.currentThread().interrupt();
                throw new IOException("interrupted while planning", e);
            } catch (java.util.concurrent.ExecutionException e) {
                Throwable cause = e.getCause();
                if (cause instanceof IOException) {
                    throw (IOException) cause;
                }
                if (cause instanceof RuntimeException) {
                    throw (RuntimeException) cause;
                }
                throw new IOException("file planning failed", cause);
            } finally {
                pool.shutdownNow();
            }
        }

        @Override
        public PartitionReaderFactory createReaderFactory() {
            return new BamReaderFactory(required, broadcastConf());
        }

        /**
         * Locality hint for one split: hosts holding its byte range,
         * highest overlap first, capped at 3 (HDFS replication width) —
         * the reference's SplitRDD.getPreferredLocations
         * (check/.../spark/SplitRDD.scala:27-30, via
         * fs.getFileBlockLocations; cited as behavior).  At 100 TB this
         * is what turns the scan node-local instead of rack-remote.
         */
        static String[] hostsFor(BlockLocation[] locs, long start, long end) {
            Map<String, Long> overlap = new HashMap<>();
            for (BlockLocation bl : locs) {
                long lo = Math.max(start, bl.getOffset());
                long hi = Math.min(end, bl.getOffset() + bl.getLength());
                if (hi <= lo) {
                    continue;
                }
                String[] hosts;
                try {
                    hosts = bl.getHosts();
                } catch (IOException e) {
                    continue;
                }
                for (String h : hosts) {
                    if (h != null && !h.isEmpty()) {
                        overlap.merge(h, hi - lo, Long::sum);
                    }
                }
            }
            return overlap.entrySet().stream()
                    .sorted((a, b) -> Long.compare(b.getValue(), a.getValue()))
                    .limit(3)
                    .map(Map.Entry::getKey)
                    .toArray(String[]::new);
        }

        /**
         * Compressed-byte ranges surviving the file's BAI, or null = no
         * pruning info (no pushed filter, no trusted index, or a filter
         * the index cannot answer), which plans the file unpruned.  A
         * split is planned iff it intersects a surviving range; pruning
         * can only skip, never corrupt, because Spark re-applies every
         * filter.
         *
         * The BAI is organized per reference, so chunk lookup needs a
         * concrete ref set.  A pos-only filter, an unplaced ref (-1) or
         * a ref outside the dictionary cannot be answered by it (unplaced
         * reads live in the tail, which the BAI has no chunks for).
         */
        private List<long[]> candidateRanges(FileSystem fs, FileStatus bam, HeaderData hdr) {
            if (!pushdown.active()) {
                return null;
            }
            // resolve pushed contig names against THIS file's dictionary —
            // a directory scan prunes each file by its own header, never
            // another file's (dictionaries may diverge across files)
            Set<Integer> refIdxs = pushdown.effectiveRefIdxs(hdr.names);
            if (refIdxs == null) {
                return null;
            }
            for (int r : refIdxs) {
                if (r < 0 || r >= hdr.nRefs()) {
                    return null;
                }
            }
            Bai idx = Bai.forBam(fs, bam, hdr.nRefs());
            if (idx == null) {
                return null;
            }
            long beg = pushdown.posLo != null ? pushdown.posLo : 0;
            long end = pushdown.posHi != null ? pushdown.posHi + 1 : 1L << 29;
            List<Integer> refs = new ArrayList<>(refIdxs);
            refs.sort(Integer::compare);
            List<long[]> keep = new ArrayList<>();
            for (int r : refs) {
                for (long[] c : idx.queryChunks(r, beg, Math.min(end, hdr.lengths[r]))) {
                    keep.add(new long[] {c[0] >>> 16, (c[1] >>> 16) + 1});
                }
            }
            return keep;
        }
    }

    /**
     * Greedy cost-capped grouping of candidate compressed-byte ranges —
     * the reference's cappedCostGroups with an estimated compression
     * ratio (Intervals.scala:110-117; default ratio 3.0): each group's
     * estimated uncompressed cost <= splitSize; oversized ranges are cut
     * at the cap, so skewed interval queries get partitions proportional
     * to data volume.  Public so that the bam_pack_ranges registry query
     * can run this packer from the driver through py4j.
     */
    public static List<List<long[]>> packRanges(List<long[]> ranges, long splitSize, double ratio) {
        long cap = Math.max(1, (long) (splitSize / ratio));
        List<long[]> merged = new ArrayList<>();
        List<long[]> sorted = new ArrayList<>(ranges);
        sorted.sort((a, b) -> {
            int c = Long.compare(a[0], b[0]);
            return c != 0 ? c : Long.compare(a[1], b[1]);
        });
        for (long[] r : sorted) {
            long lo = r[0];
            long hi = r[1];
            if (!merged.isEmpty() && lo <= merged.get(merged.size() - 1)[1]) {
                long[] last = merged.get(merged.size() - 1);
                last[1] = Math.max(last[1], hi);
            } else if (hi > lo) {
                merged.add(new long[] {lo, hi});
            }
        }
        List<List<long[]>> groups = new ArrayList<>();
        List<long[]> cur = new ArrayList<>();
        long cost = 0;
        for (long[] r : merged) {
            long lo = r[0];
            long hi = r[1];
            while (hi - lo > cap) {
                if (!cur.isEmpty()) {
                    groups.add(cur);
                    cur = new ArrayList<>();
                    cost = 0;
                }
                List<long[]> solo = new ArrayList<>();
                solo.add(new long[] {lo, lo + cap});
                groups.add(solo);
                lo += cap;
            }
            if (lo == hi) {
                continue;
            }
            if (cost + (hi - lo) > cap && !cur.isEmpty()) {
                groups.add(cur);
                cur = new ArrayList<>();
                cost = 0;
            }
            cur.add(new long[] {lo, hi});
            cost += hi - lo;
        }
        if (!cur.isEmpty()) {
            groups.add(cur);
        }
        return groups;
    }

    // --------------------------------------------------------------- splits

    static final class BamSplit implements InputPartition, Serializable {
        private static final long serialVersionUID = 1L;

        final String path;
        final long start;
        final long end;
        final HeaderData header;
        final int readsToCheck;
        final long maxReadSize;
        final boolean permissive;
        // indexed scans: multiple candidate byte ranges packed into one
        // partition by estimated uncompressed cost; null = the contiguous
        // [start, end) split
        final long[] rangeLo;
        final long[] rangeHi;
        // locality hint (hosts holding this byte range); empty on object
        // stores / local fs without block metadata
        final String[] hosts;

        BamSplit(String path, long start, long end, HeaderData header, int readsToCheck,
                long maxReadSize, boolean permissive, long[] rangeLo, long[] rangeHi,
                String[] hosts) {
            this.path = path;
            this.start = start;
            this.end = end;
            this.header = header;
            this.readsToCheck = readsToCheck;
            this.maxReadSize = maxReadSize;
            this.permissive = permissive;
            this.rangeLo = rangeLo;
            this.rangeHi = rangeHi;
            this.hosts = hosts == null ? new String[0] : hosts;
        }

        @Override
        public String[] preferredLocations() {
            return hosts;
        }

        @Override
        public String toString() {
            return "BamSplit(" + path + " [" + start + ", " + end + "))";
        }
    }

    static final class BamReaderFactory implements PartitionReaderFactory {
        private static final long serialVersionUID = 3L;

        private final StructType required;
        private final Broadcast<SerializableConfiguration> conf;

        BamReaderFactory(StructType required, Broadcast<SerializableConfiguration> conf) {
            this.required = required;
            this.conf = conf;
        }

        @Override
        public boolean supportColumnarReads(InputPartition partition) {
            return true;
        }

        /** Every split reads columnar, so Spark never asks for rows (a
         *  plan with no partitions opens no reader at all). */
        @Override
        public PartitionReader<InternalRow> createReader(InputPartition partition) {
            throw new UnsupportedOperationException("bamjvm reads columnar batches only");
        }

        @Override
        public PartitionReader<org.apache.spark.sql.vectorized.ColumnarBatch> createColumnarReader(
                InputPartition partition) {
            return new BamColumnarReader((BamSplit) partition, required, conf.value().value());
        }
    }
}
