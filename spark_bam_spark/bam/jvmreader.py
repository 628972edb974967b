"""On-demand build + session wiring for the JVM-native BAM DataSourceV2.

The Java implementation under ``jvmsrc/bamjvm/`` is the engine's only BAM
reader, writer, blocks source and stream; ``bam/reader.py`` holds the
functions that read and write through it, and this module only builds
the jar and attaches it to a session.  It decodes inside the executor JVM — the same execution
shape the reference uses (load/.../CanLoadBam.scala runs its codec
JVM-side; cited as behavior, not copied).  The pure-Python codec in
``bam/`` (``records``, ``checker``, ``writer``, ...) is its independent
test oracle, not a fallback.

Build strategy: the container prohibits package installs, but a full JDK
ships with Spark's Java runtime, so the .java sources are compiled once
per source-hash against the pyspark-bundled jars and zipped into a jar
under the user cache dir.  The jar is attached to a LIVE session with
``ADD JAR`` (driver + executor classloaders), so no session-construction
flags are needed — any SparkSession, including the correctness driver's,
can use the source via its fully-qualified class name.

When gcc and the JDK's ``jni.h`` are present, the build also compiles
``jvmsrc/bamjvm/BgzfCodec.c`` (a JNI shim over libdeflate) into the jar.
``bamjvm.BgzfCodec`` then inflates and deflates BGZF blocks with
libdeflate wherever ``libdeflate.so.0`` loads at run time, and with
``java.util.zip`` everywhere else.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import warnings
import zipfile

from pyspark.sql import SparkSession

FORMAT = "bamjvm.BamDataSource"
FORMAT_BLOCKS = "bamjvm.BlocksSource"

_SRC_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvmsrc")
_SHIM_SRC = os.path.join(_SRC_DIR, "bamjvm", "BgzfCodec.c")
_CACHE_DIR = os.path.join(tempfile.gettempdir(), "spark_bam_jvm")
# SparkContexts (by applicationId) that already ran ADD JAR.  ADD JAR
# attaches to the shared context, so the applicationId — unique per
# context, never reused within a process — is the correct cache key;
# keying by id(spark) risked a garbage-collected session's id being
# reused by a NEW session on a NEW context, silently skipping the jar.
_WIRED: set[str] = set()


def _sources() -> list[str]:
    out = []
    for root, _dirs, files in os.walk(_SRC_DIR):
        for f in sorted(files):
            if f.endswith(".java"):
                out.append(os.path.join(root, f))
    return sorted(out)


def _source_hash() -> str:
    h = hashlib.sha256(b"bamjvm-v1")
    for p in [*_sources(), _SHIM_SRC]:
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(b"shim" if _shim_toolchain() else b"no-shim")
    return h.hexdigest()[:16]


def _shim_toolchain() -> tuple[str, list[str]] | None:
    """(gcc, JNI include dirs) when the libdeflate shim can be built."""
    gcc = shutil.which("gcc")
    javac = javac_path()
    homes = [os.environ.get("JAVA_HOME"),
             javac and os.path.dirname(os.path.dirname(os.path.realpath(javac)))]
    for home in filter(None, homes):
        inc = os.path.join(home, "include")
        if gcc and os.path.exists(os.path.join(inc, "jni.h")):
            md = [os.path.dirname(p) for p in glob.glob(os.path.join(inc, "*", "jni_md.h"))]
            return gcc, [inc, *md]
    return None


def _build_shim(out_dir: str) -> None:
    """Compile the libdeflate JNI shim into ``out_dir/bamjvm`` (a jar
    resource).  A failed build only warns: BgzfCodec then falls back to
    java.util.zip."""
    toolchain = _shim_toolchain()
    if toolchain is None:
        return
    gcc, includes = toolchain
    out = os.path.join(out_dir, "bamjvm", "libbgzfcodec.so")
    cmd = [gcc, "-O2", "-shared", "-fPIC", *(f"-I{d}" for d in includes),
           "-o", out, _SHIM_SRC, "-ldl"]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    if proc.returncode != 0:
        warnings.warn(f"libdeflate shim not built, BGZF uses java.util.zip:\n{proc.stderr[-2000:]}")


def javac_path() -> str | None:
    p = shutil.which("javac")
    if p:
        return p
    jh = os.environ.get("JAVA_HOME")
    if jh and os.path.exists(os.path.join(jh, "bin", "javac")):
        return os.path.join(jh, "bin", "javac")
    return None


def _pyspark_jars_glob() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")


def jar_path() -> str:
    """Compile the Java sources (once per content hash) and return the
    jar path.  Raises RuntimeError when no JDK compiler is available:
    without one the engine has no BAM reader or writer."""
    out = os.path.join(_CACHE_DIR, f"bamjvm-{_source_hash()}.jar")
    if os.path.exists(out):
        return out
    javac = javac_path()
    if javac is None:
        raise RuntimeError("javac not found: JVM BAM reader unavailable")
    os.makedirs(_CACHE_DIR, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=_CACHE_DIR) as tmp:
        classes = os.path.join(tmp, "classes")
        os.makedirs(classes)
        cmd = [javac, "-cp", _pyspark_jars_glob(), "-d", classes, *_sources()]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        if proc.returncode != 0:
            raise RuntimeError(f"javac failed:\n{proc.stderr[-4000:]}")
        _build_shim(classes)
        tmp_jar = os.path.join(tmp, "out.jar")
        with zipfile.ZipFile(tmp_jar, "w", zipfile.ZIP_STORED) as zf:
            for root, _dirs, files in os.walk(classes):
                for f in sorted(files):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, classes))
        os.replace(tmp_jar, out)  # atomic: concurrent builders converge
    return out


def ensure_session(spark: SparkSession) -> None:
    """Attach the bamjvm jar to a live session (idempotent)."""
    app_id = spark.sparkContext.applicationId
    if app_id in _WIRED:
        return
    spark.sql(f"ADD JAR '{jar_path()}'")
    _WIRED.add(app_id)
