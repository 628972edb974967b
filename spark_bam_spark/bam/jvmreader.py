"""On-demand build + session wiring for the JVM-native BAM DataSourceV2.

This is the engine's DEFAULT BAM scan since r9 (bam/reader.py routes
here whenever a JDK is present).  The Python Data Source
(bam/datasource.py) remains the no-JDK fallback and the differential
oracle; its measured end-to-end ceiling is ~100k reads/s per core
(VERIFICATION_r7 §DS-ceiling) because every decoded batch crosses the
Python-worker/Arrow boundary.  The Java implementation under
``jvmsrc/bamjvm/`` keeps the identical schema, split-ownership rule, and
record-boundary checker, but decodes inside the executor JVM — the same
execution shape the reference uses (load/.../CanLoadBam.scala runs its
codec JVM-side; cited as behavior, not copied).

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

from pyspark.sql import DataFrame, SparkSession

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
    jar path.  Raises RuntimeError when no JDK compiler is available —
    callers treat that as 'JVM reader unavailable'."""
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


def read_bam_jvm(
    spark: SparkSession,
    path: str,
    split_size: int | None = None,
    reads_to_check: int | None = None,
    max_read_size: int | None = None,
    mode: str | None = None,
    columnar: bool | None = None,
    ranges: str | None = None,
    compression_ratio: float | None = None,
) -> DataFrame:
    """DataFrame over a BAM file/directory via the JVM reader — same
    schema and row semantics as ``spark.read.format('bam')``."""
    ensure_session(spark)
    reader = spark.read.format(FORMAT)
    if split_size is not None:
        reader = reader.option("split_size", str(split_size))
    if reads_to_check is not None:
        reader = reader.option("reads_to_check", str(reads_to_check))
    if max_read_size is not None:
        reader = reader.option("max_read_size", str(max_read_size))
    if mode is not None:
        reader = reader.option("mode", mode)
    if columnar is not None:
        reader = reader.option("columnar", "true" if columnar else "false")
    if ranges is not None:
        reader = reader.option("ranges", ranges)
    if compression_ratio is not None:
        reader = reader.option("compression_ratio", str(compression_ratio))
    return reader.load(path)


def read_bam_stream(
    spark: SparkSession,
    path: str,
    split_size: int | None = None,
    mode: str | None = None,
    max_file_age_ms: int | None = None,
    max_files_per_batch: int | None = None,
    max_bytes_per_batch: int | None = None,
) -> DataFrame:
    """Structured Streaming DataFrame over a landing directory of BAM
    files (bamjvm.BamMicroBatchStream): each micro-batch ingests the
    .bam files that appeared since the last batch through the SAME
    planner/pushdown/reader as the batch scan.  Use
    ``trigger(availableNow=True)`` for a deterministic drain of whatever
    has landed; offsets checkpoint as a monotonic batch id backed by a
    compacted file-metadata log, so a restarted query only ingests new
    files.  ``max_file_age_ms`` (FileStreamSource's maxFileAge
    analogue, default off) ignores files older than the newest file
    seen minus the age and bounds the in-memory seen map to the age
    window — the knob a months-long ingest over an eternally-growing
    landing zone needs; same documented caveat as Spark's file source
    (a file whose mtime is bumped after eviction is re-ingested).
    ``max_files_per_batch`` (FileStreamSource's maxFilesPerTrigger
    analogue, default off) caps how many unseen files one micro-batch
    plans — oldest mtime first — so a burst landing drains as
    ceil(n/cap) individually-checkpointed batches instead of one giant
    batch; under ``availableNow`` the source snapshots the backlog at
    trigger time (SupportsTriggerAvailableNow) and still drains it
    fully across that many batches.  ``max_bytes_per_batch``
    (maxBytesPerTrigger analogue, default off) caps a micro-batch's
    total input VOLUME instead — the knob for bursts of few huge files;
    strict with a progress guarantee (only a single file that alone
    exceeds the budget overshoots, riding alone).  Both caps compose
    (min semantics), and both also surface through Spark's
    SupportsAdmissionControl contract as the source's default
    ReadLimit."""
    ensure_session(spark)
    reader = spark.readStream.format(FORMAT)
    if split_size is not None:
        reader = reader.option("split_size", str(split_size))
    if mode is not None:
        reader = reader.option("mode", mode)
    if max_file_age_ms is not None:
        reader = reader.option("max_file_age_ms", str(max_file_age_ms))
    if max_files_per_batch is not None:
        reader = reader.option("max_files_per_batch", str(max_files_per_batch))
    if max_bytes_per_batch is not None:
        reader = reader.option("max_bytes_per_batch", str(max_bytes_per_batch))
    return reader.load(path)


def read_blocks_jvm(
    spark: SparkSession,
    path: str,
    split_size: int | None = None,
    ranges: str | None = None,
) -> DataFrame:
    """BGZF blocks-metadata DataFrame via the JVM source (S9 twin of the
    Python ``bgzf_blocks`` format): header-only parallel block discovery,
    no inflater, no Python worker boundary."""
    ensure_session(spark)
    reader = spark.read.format(FORMAT_BLOCKS)
    if split_size is not None:
        reader = reader.option("split_size", str(split_size))
    if ranges is not None:
        reader = reader.option("ranges", ranges)
    return reader.load(path)


def available() -> bool:
    """True when the JVM reader can be built on this machine."""
    try:
        return javac_path() is not None and bool(jar_path())
    except RuntimeError:
        return False
