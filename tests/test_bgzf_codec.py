"""Both branches of the JVM BGZF codec (bamjvm.BgzfCodec): libdeflate
through the JNI shim, and the java.util.zip fallback.

A small harness in package ``bamjvm`` is compiled against the reader jar
and run with ``java``.  It reaches the codec's package-private
constructor, which forces either branch, so no option exists for this.
The fallback must keep the old contract: deflate payloads byte-identical
to ``bgzf.compress_block``.  The native branch must round-trip, and its
payloads must inflate through Python's zlib as an independent decoder.
The last test guards against the tasks of a Spark write silently
falling back to zlib (a JNI library binds to one classloader).
"""

from __future__ import annotations

import ctypes
import glob
import os
import random
import shutil
import struct
import subprocess
import zlib

import pytest

from spark_bam_spark.bam import bgzf, jvmreader
from spark_bam_spark.bam.writer import CONTIG_LENGTHS, CONTIG_NAMES, synth_records, write_bam

_HAS_JDK = jvmreader.javac_path() is not None


def _has_libdeflate() -> bool:
    try:
        ctypes.CDLL("libdeflate.so.0")
    except OSError:
        return False
    return True


# the shim is built (gcc + jni.h) and its library loads
_EXPECT_NATIVE = _HAS_JDK and jvmreader._shim_toolchain() is not None and _has_libdeflate()

pytestmark = pytest.mark.skipif(not _HAS_JDK, reason="no JDK compiler on this machine")

_HARNESS = r"""
package bamjvm;

import java.io.*;
import java.util.Arrays;

/** args: level in out.  in holds length-prefixed chunks; out gets, per
 *  chunk, the length-prefixed fallback payload then the native one. */
public final class CodecHarness {
    public static void main(String[] args) throws Exception {
        int level = Integer.parseInt(args[0]);
        BgzfCodec[] deflaters = {new BgzfCodec(true, level, false), new BgzfCodec(true, level, true)};
        BgzfCodec[] inflaters = {new BgzfCodec(false, 0, false), new BgzfCodec(false, 0, true)};
        System.out.println("native=" + BgzfCodec.NATIVE + " used="
                + deflaters[1].isNative() + "," + inflaters[1].isNative()
                + " fallback=" + deflaters[0].isNative() + "," + inflaters[0].isNative());
        try (DataInputStream in = new DataInputStream(new BufferedInputStream(new FileInputStream(args[1])));
             DataOutputStream out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(args[2])))) {
            byte[] payload = new byte[Bgzf.MAX_BLOCK_SIZE];
            byte[] back = new byte[Bgzf.MAX_BLOCK_SIZE];
            while (in.available() > 0) {
                byte[] chunk = new byte[in.readInt()];
                in.readFully(chunk);
                for (BgzfCodec d : deflaters) {
                    int n = d.deflate(chunk, 0, chunk.length, payload);
                    if (n < 0) throw new IllegalStateException("payload does not fit");
                    for (BgzfCodec i : inflaters) {
                        int got = i.inflate(payload, 0, n, back, 0, back.length);
                        if (got != chunk.length || !Arrays.equals(chunk, 0, got, back, 0, got)) {
                            throw new IllegalStateException("round trip failed");
                        }
                    }
                    out.writeInt(n);
                    out.write(payload, 0, n);
                }
            }
        }
        for (BgzfCodec c : deflaters) c.close();
        for (BgzfCodec c : inflaters) c.close();
    }
}
"""


@pytest.fixture(scope="module")
def harness(tmp_path_factory) -> list[str]:
    """``java`` command line that runs the harness against the jar."""
    jar = jvmreader.jar_path()
    d = tmp_path_factory.mktemp("codec_harness")
    src = d / "bamjvm" / "CodecHarness.java"
    src.parent.mkdir()
    src.write_text(_HARNESS)
    javac = jvmreader.javac_path()
    subprocess.run([javac, "-cp", jar, "-d", str(d), str(src)], check=True)
    java = os.path.join(os.path.dirname(os.path.realpath(javac)), "java")
    return [java if os.path.exists(java) else shutil.which("java"), "-cp", f"{jar}:{d}",
            "bamjvm.CodecHarness"]


def _chunks(tmp_path) -> list[bytes]:
    """BAM block payloads as the writers cut them, plus the corners: a
    full 0xFF00 block of random bytes, a run of zeros and one byte."""
    path = str(tmp_path / "src.bam")
    write_bam(path, CONTIG_NAMES, CONTIG_LENGTHS, synth_records(400, seed=3),
              block_payload=4096, sidecars=False)
    with open(path, "rb") as f:
        data = f.read()
    out, off = [], 0
    while off < len(data) - len(bgzf.EOF_BLOCK):
        bsize = bgzf.parse_block_header(data, off)
        out.append(bgzf.decompress_block(data, off, bsize))
        off += bsize
    rng = random.Random(7)
    return out + [bytes(rng.getrandbits(8) for _ in range(0xFF00)), bytes(60000), b"A"]


@pytest.mark.parametrize("level", [1, 6])
def test_fallback_matches_python_codec_and_native_round_trips(harness, tmp_path, level):
    chunks = _chunks(tmp_path)
    src, dst = tmp_path / "in.bin", tmp_path / "out.bin"
    src.write_bytes(b"".join(struct.pack(">I", len(c)) + c for c in chunks))
    run = subprocess.run([*harness, str(level), str(src), str(dst)],
                         capture_output=True, text=True)
    assert run.returncode == 0, run.stderr[-2000:]
    status = run.stdout.split()
    assert status[2] == "fallback=false,false"
    if _EXPECT_NATIVE:
        assert status[:2] == ["native=true", "used=true,true"]
    raw, off = dst.read_bytes(), 0
    for chunk in chunks:
        payloads = []
        for _ in range(2):
            (n,) = struct.unpack_from(">I", raw, off)
            payloads.append(raw[off + 4 : off + 4 + n])
            off += 4 + n
        fallback, native = payloads
        assert fallback == bgzf.compress_block(chunk, level)[bgzf.BGZF_HEADER_LEN : -bgzf.BGZF_FOOTER_LEN]
        assert zlib.decompress(native, wbits=-15) == chunk
    assert off == len(raw)


@pytest.mark.skipif(not _EXPECT_NATIVE, reason="needs gcc, jni.h and libdeflate.so.0")
def test_spark_write_uses_native_codec(spark, tmp_path):
    """The write's tasks run in their own classloader; their blocks must
    come from libdeflate, i.e. differ from the zlib payload of the same
    uncompressed bytes, while still inflating to those bytes."""
    from spark_bam_spark.bam.reader import read_bam, write_bam_df

    path = str(tmp_path / "src.bam")
    write_bam(path, CONTIG_NAMES, CONTIG_LENGTHS, synth_records(600, seed=4), sidecars=False)
    out = str(tmp_path / "out")
    contigs = ",".join(f"{n}:{ln}" for n, ln in zip(CONTIG_NAMES, CONTIG_LENGTHS))
    write_bam_df(read_bam(spark, path).coalesce(1), out, contigs=contigs, block_payload=4096)
    (part,) = glob.glob(out + "/part-*.bam")
    with open(part, "rb") as f:
        data = f.read()
    differ, off = [], 0
    while off < len(data) - len(bgzf.EOF_BLOCK):
        bsize = bgzf.parse_block_header(data, off)
        payload = data[off + bgzf.BGZF_HEADER_LEN : off + bsize - bgzf.BGZF_FOOTER_LEN]
        zlib_blk = bgzf.compress_block(bgzf.decompress_block(data, off, bsize))
        differ.append(payload != zlib_blk[bgzf.BGZF_HEADER_LEN : -bgzf.BGZF_FOOTER_LEN])
        off += bsize
    assert len(differ) > 10 and all(differ[:-1])
