"""CRAM loading by delegation to an external codec (S5).

Parity target (cited, not copied): the reference also does not decode CRAM
itself — it delegates to htsjdk's CRAMContainerStreamWriter /
hadoop-bam's CRAMInputFormat (load/src/main/scala/org/hammerlab/bam/spark/
load/CanLoadBam.scala:268-277). The public Python equivalent of that
codec is pysam (htslib bindings), which is an OPTIONAL dependency here:
when importable, CRAM files decode through it into the exact
``READS_DDL`` schema the BAM source produces; when absent, loading raises
the same explicit NotImplementedError the dispatch hook always had.

Spark-first shape: CRAM's reference-based compression means byte-range
splitting requires the codec's own container index, so parallelism is
per-file — a file-list DataFrame repartitioned to one task per file,
decoded executor-side inside ``mapInPandas`` (Arrow-batched; no data ever
moves through the driver). At 100 TB a CRAM corpus is many files, so
per-file tasks saturate a cluster; single-file splitting would need
htsjdk-style .crai container chunking, which belongs in the codec, not
here.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession

from spark_bam_spark.bam.reader import READS_DDL

_BATCH_ROWS = 8192


def _cram_paths(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.cram")))
    return [path]


def load_cram(spark: SparkSession, path: str, reference: str | None = None) -> DataFrame:
    """S5 loadCram: decode CRAM via pysam (optional dep) into the BAM
    read schema; one executor task per file, Arrow-batched output.

    ``reference``: FASTA path for reference-based decompression (CRAM
    needs the reference the file was compressed against unless embedded).
    """
    try:
        import pysam  # noqa: F401
    except ImportError as exc:  # pragma: no cover - exercised via fake module in tests
        raise NotImplementedError(
            "CRAM requires an external codec (htsjdk/pysam); convert to BAM "
            "or install pysam to enable the delegating reader"
        ) from exc

    paths = _cram_paths(path)
    if not paths:
        raise FileNotFoundError(f"no .cram files under {path!r}")
    files_df = spark.createDataFrame([(p,) for p in paths], "path string").repartition(
        len(paths)
    )

    def decode(batches):
        import pandas as pd
        import pysam

        for pdf in batches:
            for fpath in pdf["path"]:
                af = pysam.AlignmentFile(
                    fpath, mode="rc", reference_filename=reference, check_sq=False
                )
                names = list(af.references or [])
                rows: list[dict] = []
                for rec in af:
                    ref_idx = rec.reference_id if rec.reference_id is not None else -1
                    pos = rec.reference_start if rec.reference_start is not None else -1
                    cigar = rec.cigarstring or "*"
                    seq = rec.query_sequence or "*"
                    qual = (
                        "".join(chr(q + 33) for q in rec.query_qualities)
                        if rec.query_qualities is not None
                        else "*"
                    )
                    rows.append(
                        {
                            "qname": rec.query_name,
                            "flag": rec.flag,
                            "ref_idx": ref_idx,
                            "rname": names[ref_idx] if 0 <= ref_idx < len(names) else "*",
                            "pos": pos,
                            "end_pos": rec.reference_end if rec.reference_end is not None else -1,
                            "mapq": rec.mapping_quality,
                            "cigar": cigar,
                            "n_cigar_ops": len(rec.cigartuples or ()),
                            "mate_ref_idx": rec.next_reference_id
                            if rec.next_reference_id is not None
                            else -1,
                            "mate_pos": rec.next_reference_start
                            if rec.next_reference_start is not None
                            else -1,
                            "tlen": rec.template_length,
                            "seq": seq,
                            "seq_len": len(seq) if seq != "*" else 0,
                            "qual": qual,
                            "tags": {tag: str(val) for tag, val in (rec.get_tags() or [])},
                            "block_pos": None,
                            "offset": None,
                        }
                    )
                    if len(rows) >= _BATCH_ROWS:
                        yield pd.DataFrame(rows)
                        rows = []
                if rows:
                    yield pd.DataFrame(rows)

    return files_df.mapInPandas(decode, READS_DDL)
