package bamjvm;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.FSDataInputStream;
import org.apache.hadoop.fs.FileSystem;
import org.apache.hadoop.fs.Path;

/**
 * Standalone micro-benchmark for the record walk (no Spark): walks every
 * split of a BAM file on the calling thread and prints records/s.  Used
 * to separate walk+inflate cost from Spark's per-row pipeline overhead
 * when tuning the reader.  Usage:
 *   java -cp ... bamjvm.WalkBench /path/file.bam [split_size] [repeat]
 */
public final class WalkBench {
    public static void main(String[] args) throws Exception {
        String path = args[0];
        long splitSize = args.length > 1 ? Long.parseLong(args[1]) : (16L << 20);
        int repeat = args.length > 2 ? Integer.parseInt(args[2]) : 3;

        Path p = new Path(path);
        Configuration conf = new Configuration();
        FileSystem fs = p.getFileSystem(conf);
        long size = fs.getFileStatus(p).getLen();
        HeaderData hdr;
        try (FSDataInputStream in = fs.open(p)) {
            BamWindow win = new BamWindow(in, 0);
            hdr = HeaderData.parse(win);
            win.release();
        }
        // phase 0: block loads + inflate only (no record walk) — the
        // window floor; the delta to the full walk is record-walk cost
        for (int r = 0; r < repeat; r++) {
            long t0 = System.nanoTime();
            long blocks = 0;
            long bytes = 0;
            try (FSDataInputStream in = fs.open(p)) {
                BamWindow win = new BamWindow(in, 0);
                while (true) {
                    win.compactBefore(win.len); // keep memory flat
                    if (!win.loadBlock()) {
                        break;
                    }
                    blocks += 1;
                    bytes += win.len - win.blockUstarts[win.nBlocks - 1];
                }
                win.release();
            }
            double sec = (System.nanoTime() - t0) / 1e9;
            System.out.printf(
                    "inflate-only blocks=%d mb=%d wall=%.2fs%n", blocks, bytes >> 20, sec);
        }
        for (int r = 0; r < repeat; r++) {
            long t0 = System.nanoTime();
            long n = 0;
            for (long s = 0; s < size; s += splitSize) {
                BamDataSource.BamSplit split = new BamDataSource.BamSplit(
                        path, s, Math.min(s + splitSize, size), hdr, false, null, null, null);
                RecordWalker w = new RecordWalker(split, conf);
                while (w.advance()) {
                    n++;
                }
                w.close();
            }
            double sec = (System.nanoTime() - t0) / 1e9;
            System.out.printf("records=%d wall=%.2fs rate=%.2fM/s%n", n, sec, n / sec / 1e6);
        }
    }
}
