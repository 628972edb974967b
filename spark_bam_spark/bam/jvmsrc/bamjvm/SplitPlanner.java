package bamjvm;

import java.math.BigInteger;
import java.util.ArrayList;
import java.util.HashMap;
import java.util.List;
import java.util.Map;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;

/**
 * The one split-sizing rule of the reads scan and the blocks scan.
 *
 * An explicit {@code split_size} cuts every file at that fixed stride.
 * Otherwise the plan fills whole waves of the session's parallelism
 * {@code P} ({@code defaultParallelism}, read on the driver while the
 * scan is planned):
 * <ul>
 *   <li>{@code N} is the smallest multiple of {@code P} with
 *       {@code total / N <= 64 MiB}, capped so that no split is under
 *       1 MiB, and at least 1;</li>
 *   <li>the {@code N} splits are apportioned across files in proportion
 *       to file size (largest remainder, ties to the earlier file), and
 *       every non-empty file gets at least one;</li>
 *   <li>each file is cut into equal byte ranges (sizes differ by at most
 *       one byte).</li>
 * </ul>
 * {@link #target} ({@code total / N}) is also the indexed path's
 * {@code packRanges} cost cap.
 */
final class SplitPlanner {
    private static final long MAX_SPLIT = 64L << 20;
    private static final long MIN_SPLIT = 1L << 20;

    /** Bytes per split: the explicit split_size, or total / N. */
    final long target;
    private final long stride; // explicit split_size; 0 = wave-aligned
    private final Map<Path, Integer> counts;

    private SplitPlanner(long target, long stride, Map<Path, Integer> counts) {
        this.target = target;
        this.stride = stride;
        this.counts = counts;
    }

    /** The plan for {@code files}: fixed stride when {@code splitSize > 0},
     *  else wave-aligned to the active session's parallelism. */
    static SplitPlanner of(List<FileStatus> files, long splitSize) {
        if (splitSize > 0) {
            return new SplitPlanner(splitSize, splitSize, Map.of());
        }
        int parallelism =
                org.apache.spark.sql.SparkSession.active().sparkContext().defaultParallelism();
        return waves(files, parallelism);
    }

    private static SplitPlanner waves(List<FileStatus> files, int parallelism) {
        long total = 0;
        for (FileStatus f : files) {
            total += f.getLen();
        }
        int n = splitCount(total, parallelism);
        Map<Path, Integer> counts = new HashMap<>();
        if (total > 0) {
            // largest remainder over the quotas n * size / total; every
            // remainder shares the denominator, so compare numerators
            BigInteger bn = BigInteger.valueOf(n);
            BigInteger bt = BigInteger.valueOf(total);
            int[] share = new int[files.size()];
            BigInteger[] rem = new BigInteger[files.size()];
            int left = n;
            for (int i = 0; i < files.size(); i++) {
                BigInteger[] qr = bn.multiply(BigInteger.valueOf(files.get(i).getLen()))
                        .divideAndRemainder(bt);
                share[i] = qr[0].intValueExact();
                rem[i] = qr[1];
                left -= share[i];
            }
            List<Integer> order = new ArrayList<>();
            for (int i = 0; i < files.size(); i++) {
                order.add(i);
            }
            order.sort((a, b) -> rem[b].compareTo(rem[a])); // stable: ties keep file order
            for (int k = 0; k < left; k++) {
                share[order.get(k)]++;
            }
            for (int i = 0; i < files.size(); i++) {
                counts.put(files.get(i).getPath(), Math.max(1, share[i]));
            }
        }
        return new SplitPlanner(Math.max(1, (total + n - 1) / n), 0, counts);
    }

    /** N: the smallest multiple of {@code parallelism} with
     *  total / N <= 64 MiB, capped at total / 1 MiB, and at least 1. */
    private static int splitCount(long total, int parallelism) {
        long p = Math.max(1, parallelism);
        long waves = Math.max(1, (total + p * MAX_SPLIT - 1) / (p * MAX_SPLIT));
        return (int) Math.max(1, Math.min(waves * p, total / MIN_SPLIT));
    }

    /** The [start, end) byte ranges of one file, in order. */
    List<long[]> ranges(FileStatus f) {
        long size = f.getLen();
        List<long[]> out = new ArrayList<>();
        if (stride > 0) {
            for (long s = 0; s < size; s += stride) {
                out.add(new long[] {s, Math.min(s + stride, size)});
            }
            return out;
        }
        int n = counts.getOrDefault(f.getPath(), 1);
        long base = size / n;
        long extra = size % n; // the first `extra` ranges take one more byte
        long s = 0;
        for (int i = 0; i < n && s < size; i++) {
            long e = s + base + (i < extra ? 1 : 0);
            out.add(new long[] {s, e});
            s = e;
        }
        return out;
    }
}
