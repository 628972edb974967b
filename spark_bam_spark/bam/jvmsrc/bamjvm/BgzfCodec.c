/*
 * JNI shim behind bamjvm.BgzfCodec: whole-buffer raw DEFLATE through
 * libdeflate (https://github.com/ebiggers/libdeflate), the codec htslib
 * uses for BGZF.  The library is opened at run time with dlopen, so the
 * shim builds without libdeflate's header and the JVM falls back to
 * java.util.zip wherever libdeflate.so.0 is missing.  The six functions
 * below are libdeflate's stable 1.x ABI.
 *
 * Each handle carries its own 64 KiB staging buffers, and the Java arrays
 * are copied in and out of them rather than pinned: a pinned array blocks
 * the garbage collector for the whole (de)compression, which in the
 * benchmark's write path grew the Java heap instead.
 *
 * Build: gcc -O2 -shared -fPIC -I$JAVA_HOME/include -I$JAVA_HOME/include/linux
 *        -o libbgzfcodec.so BgzfCodec.c -ldl
 */
#include <dlfcn.h>
#include <jni.h>
#include <stdlib.h>

/* a BGZF block's payload and its uncompressed size are both at most 64 KiB */
#define BUF_LEN 65536

struct codec {
    void *lib; /* libdeflate compressor or decompressor */
    unsigned char in[BUF_LEN], out[BUF_LEN];
};

static void *(*alloc_compressor)(int);
static size_t (*deflate_compress)(void *, const void *, size_t, void *, size_t);
static void (*free_compressor)(void *);
static void *(*alloc_decompressor)(void);
static int (*deflate_decompress)(void *, const void *, size_t, void *, size_t, size_t *);
static void (*free_decompressor)(void *);

JNIEXPORT jint JNICALL JNI_OnLoad(JavaVM *vm, void *reserved) {
    return JNI_VERSION_1_8;
}

JNIEXPORT jboolean JNICALL Java_bamjvm_BgzfCodec_init(JNIEnv *env, jclass cls) {
    void *lib = dlopen("libdeflate.so.0", RTLD_NOW | RTLD_LOCAL);
    if (lib == NULL) return JNI_FALSE;
    *(void **) &alloc_compressor = dlsym(lib, "libdeflate_alloc_compressor");
    *(void **) &deflate_compress = dlsym(lib, "libdeflate_deflate_compress");
    *(void **) &free_compressor = dlsym(lib, "libdeflate_free_compressor");
    *(void **) &alloc_decompressor = dlsym(lib, "libdeflate_alloc_decompressor");
    *(void **) &deflate_decompress = dlsym(lib, "libdeflate_deflate_decompress");
    *(void **) &free_decompressor = dlsym(lib, "libdeflate_free_decompressor");
    return alloc_compressor && deflate_compress && free_compressor
        && alloc_decompressor && deflate_decompress && free_decompressor;
}

/* Handle for a freshly allocated libdeflate object, or 0 (Java then falls back). */
static jlong wrap(void *lib, jboolean compressor) {
    struct codec *c;
    if (lib == NULL) return 0;
    c = malloc(sizeof *c);
    if (c == NULL) {
        if (compressor) free_compressor(lib);
        else free_decompressor(lib);
        return 0;
    }
    c->lib = lib;
    return (jlong) (size_t) c;
}

JNIEXPORT jlong JNICALL Java_bamjvm_BgzfCodec_allocCompressor(JNIEnv *env, jclass cls, jint level) {
    return wrap(alloc_compressor(level), JNI_TRUE);
}

JNIEXPORT jlong JNICALL Java_bamjvm_BgzfCodec_allocDecompressor(JNIEnv *env, jclass cls) {
    return wrap(alloc_decompressor(), JNI_FALSE);
}

JNIEXPORT void JNICALL Java_bamjvm_BgzfCodec_free(JNIEnv *env, jclass cls, jlong h, jboolean compressor) {
    struct codec *c = (struct codec *) (size_t) h;
    if (compressor) free_compressor(c->lib);
    else free_decompressor(c->lib);
    free(c);
}

/* Compressed size, or 0 when the output does not fit in outLen bytes. */
JNIEXPORT jint JNICALL Java_bamjvm_BgzfCodec_compress(JNIEnv *env, jclass cls, jlong h,
        jbyteArray in, jint inOff, jint inLen, jbyteArray out, jint outOff, jint outLen) {
    struct codec *c = (struct codec *) (size_t) h;
    size_t n;
    if (inLen > BUF_LEN) return 0;
    (*env)->GetByteArrayRegion(env, in, inOff, inLen, (jbyte *) c->in);
    n = deflate_compress(c->lib, c->in, inLen, c->out, outLen < BUF_LEN ? outLen : BUF_LEN);
    if (n) (*env)->SetByteArrayRegion(env, out, outOff, n, (jbyte *) c->out);
    return (jint) n;
}

/* Uncompressed size; -1 on bad data, -2 when the output exceeds
 * min(outLen, 64 KiB) bytes. */
JNIEXPORT jint JNICALL Java_bamjvm_BgzfCodec_decompress(JNIEnv *env, jclass cls, jlong h,
        jbyteArray in, jint inOff, jint inLen, jbyteArray out, jint outOff, jint outLen) {
    struct codec *c = (struct codec *) (size_t) h;
    size_t got = 0;
    int rc;
    if (inLen > BUF_LEN) return -1;
    (*env)->GetByteArrayRegion(env, in, inOff, inLen, (jbyte *) c->in);
    rc = deflate_decompress(c->lib, c->in, inLen, c->out, outLen < BUF_LEN ? outLen : BUF_LEN, &got);
    if (rc == 0) (*env)->SetByteArrayRegion(env, out, outOff, got, (jbyte *) c->out);
    return rc == 0 ? (jint) got : rc == 3 ? -2 : -1;
}
