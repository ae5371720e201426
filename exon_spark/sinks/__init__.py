"""Sinks: FASTA/FASTQ writers and the COPY ... STORED AS extension.

Parity: the reference's sole SQL extension is
``COPY (query|table) TO 'path' STORED AS FASTA|FASTQ [OPTIONS(compression
'gzip')]`` (sql/parser.rs:52-71 -> ExonDataSinkLogicalPlanNode ->
SimpleRecordSink with FASTA/FASTQSerializer, sinks/simple_record_sink.rs:81-119).

Spark-first: serialization is a Column expression (concat of record fields)
written through the JVM text writer — gzip/zstd via Spark's codec, all
distributed; ``single_file=True`` coalesces to one output file like the
reference's sink. The SQL surface is a tiny preprocessor on the COPY
statement (Catalyst has no parser hooks from Python).
"""

from __future__ import annotations

import re
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

_COPY_RE = re.compile(
    r"^\s*COPY\s+(?P<src>\(.*\)|[A-Za-z_][\w.]*)\s+TO\s+'(?P<path>[^']+)'\s*"
    r"(?:STORED\s+AS\s+(?P<fmt>FASTA|FASTQ|PARQUET|CSV|JSONL)\s*)?"
    r"(?:OPTIONS\s*\(\s*compression\s+'(?P<comp>\w+)'\s*\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def fasta_lines(df: DataFrame) -> DataFrame:
    """Serialize (id, description, sequence) to FASTA text lines
    (fasta_serializer.rs semantics: '>' + id [+ ' ' + description])."""
    header = F.concat(
        F.lit(">"),
        F.col("id"),
        F.when(
            F.col("description").isNotNull(), F.concat(F.lit(" "), F.col("description"))
        ).otherwise(F.lit("")),
    )
    return df.select(
        F.concat_ws("\n", header, F.col("sequence")).alias("value")
    )


def fastq_lines(df: DataFrame) -> DataFrame:
    """Serialize (name, description, sequence, quality_scores) to FASTQ."""
    header = F.concat(
        F.lit("@"),
        F.col("name"),
        F.when(
            F.col("description").isNotNull(), F.concat(F.lit(" "), F.col("description"))
        ).otherwise(F.lit("")),
    )
    return df.select(
        F.concat_ws(
            "\n", header, F.col("sequence"), F.lit("+"), F.col("quality_scores")
        ).alias("value")
    )


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` plus an observed row count that its next SQL action (a
    write) reports, so a sink learns how many records it wrote without a
    second job. RDD actions do not report it."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def _write_lines(
    out: DataFrame, path: str, compression: str | None, single_file: bool
) -> int:
    """Write one text line per row; returns the number of lines written."""
    if single_file:
        out = out.coalesce(1)
    if compression and compression.lower() == "zstd":
        # the JVM text writer has no zstd codec without native hadoop;
        # write executor-side through pyarrow's bundled codec instead —
        # still one file per partition, fully distributed (assumes a
        # shared/posix target path, same as any local-fs write)
        return _write_text_zstd(out, path)
    out, obs = _counted(out)
    w = out.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.text(path)
    return obs.get["n"]


def _write_text_zstd(lines_df: DataFrame, path: str) -> int:
    import os
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)

    def write_part(idx, it):
        import os as _os

        import pyarrow as pa

        fn = _os.path.join(path, f"part-{idx:05d}.fasta.zst")
        raw = pa.OSFile(fn, "wb")
        n = 0
        with pa.CompressedOutputStream(raw, "zstd") as out:
            for row in it:
                out.write((row.value + "\n").encode("utf-8"))
                n += 1
        yield n

    return sum(lines_df.rdd.mapPartitionsWithIndex(write_part).collect())


def write_fasta(
    df: DataFrame,
    path: str,
    compression: str | None = None,
    single_file: bool = False,
) -> int:
    """Write ``df`` as FASTA; returns the number of records written."""
    return _write_lines(fasta_lines(df), path, compression, single_file)


def write_fastq(
    df: DataFrame,
    path: str,
    compression: str | None = None,
    single_file: bool = False,
) -> int:
    """Write ``df`` as FASTQ; returns the number of records written."""
    return _write_lines(fastq_lines(df), path, compression, single_file)


def maybe_handle_copy(
    spark: SparkSession,
    sql: str,
    run_sql: Callable[[str], DataFrame] | None = None,
) -> DataFrame | None:
    """Intercept COPY ... STORED AS FASTA|FASTQ; returns a 1-row count
    DataFrame (like the reference's sink result) or None if not a COPY.

    The source query runs through ``run_sql`` (default ``spark.sql``;
    ExonSession passes its region-pushdown entry point). The export is one
    pass: the returned count is observed on the written rows."""
    m = _COPY_RE.match(sql)
    if not m:
        return None
    src = m.group("src").strip()
    df = (run_sql or spark.sql)(
        src[1:-1] if src.startswith("(") else f"SELECT * FROM {src}"
    )
    path = m.group("path")
    fmt = (m.group("fmt") or "").upper()
    if not fmt:
        # STORED AS omitted: infer from the target extension
        # (DataFusion COPY behavior; gff-scan-tests.slt COPY ... TO '*.parquet')
        ext = path.rsplit(".", 1)[-1].lower()
        fmt = {"parquet": "PARQUET", "csv": "CSV", "fasta": "FASTA",
               "fa": "FASTA", "fastq": "FASTQ", "fq": "FASTQ",
               "jsonl": "JSONL", "json": "JSONL"}.get(ext)
        if fmt is None:
            return None
    comp = (m.group("comp") or "").lower() or None
    if fmt in ("FASTA", "FASTQ"):
        write = write_fasta if fmt == "FASTA" else write_fastq
        n = write(df, path + ".__tmp__", compression=comp, single_file=True)
        _promote_single_file(path + ".__tmp__", path)
        return spark.createDataFrame([(n,)], ["count"])
    df, obs = _counted(df)
    if fmt == "PARQUET":
        df.write.mode("overwrite").parquet(path)
    elif fmt == "JSONL":
        # Spark's json writer is line-delimited JSON — the LLM-corpus
        # interchange format (beyond-reference extension; gzip/zstd via
        # the writer codec, distributed)
        w = df.write.mode("overwrite")
        if comp:
            w = w.option("compression", comp)
        w.json(path)
    else:
        df.write.mode("overwrite").option("header", "true").csv(path)
    return spark.createDataFrame([(obs.get["n"],)], ["count"])


def _promote_single_file(tmp_dir: str, path: str) -> None:
    """Move the single part file out of a Spark output directory to ``path``
    — the reference's COPY writes ONE file at the given path
    (sinks/simple_record_sink.rs:81-119), so the DataFrame is coalesced to
    one partition and the part file promoted. (COPY-to-single-file is an
    inherently single-stream sink; for scale-out writes use
    df.write.format(...) with a directory target instead.)"""
    import os
    import shutil

    parts = [
        f
        for f in os.listdir(tmp_dir)
        if f.startswith("part-") and not f.endswith(".crc")
    ]
    if len(parts) != 1:
        raise IOError(f"expected one part file in {tmp_dir}, found {parts}")
    if os.path.exists(path):
        os.remove(path)
    shutil.move(os.path.join(tmp_dir, parts[0]), path)
    shutil.rmtree(tmp_dir, ignore_errors=True)
