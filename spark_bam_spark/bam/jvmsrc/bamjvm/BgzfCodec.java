package bamjvm;

import java.io.File;
import java.io.IOException;
import java.io.InputStream;
import java.nio.file.Files;
import java.nio.file.StandardCopyOption;
import java.util.zip.DataFormatException;
import java.util.zip.Deflater;
import java.util.zip.Inflater;

/**
 * Raw DEFLATE for one BGZF block at a time: a compressor (the writer's
 * {@code BamDataWriter}) or a decompressor ({@code BamWindow}).
 *
 * <p>An instance owns either a libdeflate handle or a
 * {@code java.util.zip} object, never both.  libdeflate is an optional
 * runtime dependency, reached through the JNI shim {@code BgzfCodec.c}
 * that the jar carries as a resource when gcc was present at build time.
 * The shim is used whenever it and {@code libdeflate.so.0} both load;
 * otherwise every instance falls back to {@code java.util.zip}.  Nothing
 * else selects the path.
 *
 * <p>Inflated bytes are the same on both paths.  Deflated bytes are not:
 * libdeflate's payloads differ from zlib's (and are slightly smaller),
 * while the fallback's are byte-identical to {@code bgzf.compress_block}.
 *
 * <p>The shim is loaded once per classloader, from a private temp copy:
 * a JNI library binds to the first classloader that loads it, and Spark's
 * driver and task classloaders differ, so a shared path would leave the
 * tasks on the fallback.  Instances are not thread-safe; {@link #close}
 * frees the native handle and must be called (there is no cleaner).
 */
final class BgzfCodec implements AutoCloseable {
    static final boolean NATIVE = loadShim();

    private final boolean compressor;
    private long handle;
    private final Inflater inflater;
    private final Deflater deflater;

    static BgzfCodec decompressor() {
        return new BgzfCodec(false, 0, NATIVE);
    }

    static BgzfCodec compressor(int level) {
        return new BgzfCodec(true, level, NATIVE);
    }

    /** {@code useNative=false} forces the {@code java.util.zip} path. */
    BgzfCodec(boolean compressor, int level, boolean useNative) {
        this.compressor = compressor;
        long h = 0;
        if (useNative && NATIVE) {
            h = compressor ? allocCompressor(level) : allocDecompressor();
        }
        handle = h;
        inflater = h == 0 && !compressor ? new Inflater(true) : null;
        deflater = h == 0 && compressor ? new Deflater(level, true) : null;
    }

    boolean isNative() {
        return handle != 0;
    }

    /**
     * Inflate {@code in[off, off+len)} into {@code out[outOff..]}, writing
     * at most {@code outLen} bytes.  Returns the uncompressed size; a
     * value above {@code outLen} means the payload inflates past the
     * buffer (on the native path: past the buffer or past the 64 KiB a
     * BGZF block can hold).
     */
    int inflate(byte[] in, int off, int len, byte[] out, int outOff, int outLen)
            throws DataFormatException {
        if (handle != 0) {
            int got = decompress(handle, in, off, len, out, outOff, outLen);
            if (got == -1) {
                throw new DataFormatException("invalid deflate data");
            }
            return got == -2 ? outLen + 1 : got;
        }
        inflater.reset();
        inflater.setInput(in, off, len);
        int produced = 0;
        while (!inflater.finished() && produced < outLen) {
            int got = inflater.inflate(out, outOff + produced, outLen - produced);
            if (got == 0 && inflater.needsInput()) {
                break;
            }
            produced += got;
        }
        return produced;
    }

    /**
     * Deflate {@code in[off, off+len)} into {@code out}; returns the
     * compressed size, or -1 when it does not fit in {@code out}.
     */
    int deflate(byte[] in, int off, int len, byte[] out) {
        if (handle != 0) {
            int n = compress(handle, in, off, len, out, 0, out.length);
            return n == 0 ? -1 : n;
        }
        deflater.reset();
        deflater.setInput(in, off, len);
        deflater.finish();
        int n = 0;
        while (!deflater.finished()) {
            int got = deflater.deflate(out, n, out.length - n);
            if (got == 0 && !deflater.finished()) {
                return -1;
            }
            n += got;
        }
        return n;
    }

    /** Free the native handle or end the zip object; idempotent. */
    @Override
    public void close() {
        if (handle != 0) {
            free(handle, compressor);
            handle = 0;
        } else if (inflater != null) {
            inflater.end();
        } else {
            deflater.end();
        }
    }

    private static boolean loadShim() {
        try (InputStream res = BgzfCodec.class.getResourceAsStream("libbgzfcodec.so")) {
            if (res == null) {
                return false; // jar built without gcc
            }
            File tmp = File.createTempFile("bgzfcodec", ".so");
            try {
                Files.copy(res, tmp.toPath(), StandardCopyOption.REPLACE_EXISTING);
                System.load(tmp.getAbsolutePath());
            } finally {
                tmp.delete();
            }
            return init();
        } catch (IOException | LinkageError | SecurityException e) {
            System.err.println("bamjvm: libdeflate shim unavailable, using java.util.zip: " + e);
            return false;
        }
    }

    private static native boolean init();

    private static native long allocCompressor(int level);

    private static native long allocDecompressor();

    private static native void free(long handle, boolean compressor);

    private static native int compress(
            long handle, byte[] in, int off, int len, byte[] out, int outOff, int outLen);

    private static native int decompress(
            long handle, byte[] in, int off, int len, byte[] out, int outOff, int outLen);
}
