"""Format data sources (SURVEY.md §2.1 parity surface).

Two tiers, each Spark-first:

* record formats (FASTA, FASTQ, VCF, SAM, SDF, GenBank, mzML, FCS) — Python
  DataSources emitting Arrow batches; registered with
  ``spark.dataSource.register`` so ``spark.read.format("fasta")`` and
  ``CREATE TABLE ... USING fasta`` work;
* tabular formats (GFF, GTF, BED, HMMDOMTAB) — pure ``spark.read.csv``/text
  + Column expressions (JVM-side parsing, no Python in the data path).

``read_format(spark, fmt, path, **options)`` is the uniform entry point used
by ``ExonSession.read_*``.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession

from exon_spark.sources.tabular import TABULAR_READERS

_DATASOURCES = None


def _datasource_classes():
    global _DATASOURCES
    if _DATASOURCES is None:
        from exon_spark.sources.bam import BamSource
        from exon_spark.sources.fasta import FastaSource
        from exon_spark.sources.fastq import FastqSource
        from exon_spark.sources.sam import SamSource
        from exon_spark.sources.bcf import BcfSource
        from exon_spark.sources.vcf import VcfSource

        from exon_spark.sources.fcs import FcsSource
        from exon_spark.sources.genbank import GenbankSource
        from exon_spark.sources.mzml import MzmlSource
        from exon_spark.sources.sdf import SdfSource
        from exon_spark.sources.bigwig import BigWigValueSource, BigWigZoomSource
        from exon_spark.sources.cram import CramSource

        classes = [
            FastaSource,
            FastqSource,
            VcfSource,
            BcfSource,
            SamSource,
            BamSource,
            SdfSource,
            GenbankSource,
            MzmlSource,
            FcsSource,
            CramSource,
            BigWigValueSource,
            BigWigZoomSource,
        ]
        _DATASOURCES = classes
    return _DATASOURCES


def ship_package(spark: SparkSession) -> None:
    """Make exon_spark importable on executors regardless of how the driver
    found it (cluster deploys included): zip the package and addPyFile."""
    sc = spark.sparkContext
    if getattr(sc, "_exon_spark_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = os.path.join(tempfile.gettempdir(), "exon_spark_pkg.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(os.path.join(pkg_dir, "exon_spark")):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        zf.write(full, os.path.relpath(full, pkg_dir))
    try:
        sc.addPyFile(zip_path)
    except Exception:
        pass  # Spark Connect has no sparkContext; rely on installed package
    sc._exon_spark_shipped = True  # type: ignore[attr-defined]


def register_sources(spark: SparkSession) -> None:
    """Register every record-format DataSource (mirrors the reference's
    factory registration for its format keywords, exon_context_ext.rs:131-179).

    Python DataSources are session-scoped, so this runs once per session;
    later calls return at once. Spark refuses to register a name that the
    *active* session already resolves, so a second session (``newSession()``)
    is made active while its sources are registered."""
    if getattr(spark, "_exon_sources_registered", False):
        return
    ship_package(spark)
    jsession = SparkSession._get_j_spark_session_class(spark._jvm)
    previous = jsession.getActiveSession()
    jsession.setActiveSession(spark._jsparkSession)
    try:
        for cls in _datasource_classes():
            spark.dataSource.register(cls)
    finally:
        if previous.isDefined():
            jsession.setActiveSession(previous.get())
    spark._exon_sources_registered = True  # type: ignore[attr-defined]


def read_format(spark: SparkSession, fmt: str, path: str, **options) -> DataFrame:
    fmt = fmt.lower()
    if fmt in ("delta", "deltatable"):
        from exon_spark.sources.delta import read_delta

        return read_delta(spark, path, **options)
    if fmt in TABULAR_READERS:
        return TABULAR_READERS[fmt](spark, path, **options)
    # plain scans of text formats go through whole-stage-codegen'd Column
    # expressions (no Python workers); option-rich scans (regions, encodings,
    # header-driven schemas) use the Python DataSources
    from exon_spark.sources.jvm_fast import jvm_fast_reader

    fast = jvm_fast_reader(fmt, path, options, spark=spark)
    if fast is not None:
        return fast(spark, path)
    register_sources(spark)
    reader = spark.read.format(fmt)
    # let planners size index-chunk / byte-range splits to the cluster
    # (plan_partitions runs in a sessionless worker and can't ask Spark)
    options.setdefault(
        "target_parallelism", spark.sparkContext.defaultParallelism
    )
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load(path)
