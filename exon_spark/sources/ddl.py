"""`CREATE EXTERNAL TABLE ... STORED AS <FORMAT>` DDL support.

Parity: the reference registers an ``ExonListingTableFactory`` for 23 format
keywords so DataFusion routes ``CREATE EXTERNAL TABLE name STORED AS FASTA
[OPTIONS(...)] LOCATION 'path'`` to a listing table
(exon_context_ext.rs:131-179, exon_listing_table_factory.rs:76-300).

Spark note: stock Spark 4 *does* accept ``CREATE TABLE t USING fasta
OPTIONS(path '...')`` for a registered Python DataSource, but the catalog
read path constructs ``PythonTable(ds, shortName, outputSchema)`` without the
table properties, so the options (including the path) never reach the Python
reader — the SELECT fails. We therefore intercept the DDL in
``ExonSession.sql`` (exactly where the reference hooks its parser,
sql/parser.rs:52-71) and register the reader DataFrame as a temp view. This
keeps planning declarative: the view is a plain DataFrame, so Catalyst still
prunes/pushes down over it.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

# format keyword -> (reader fmt, implied options). Mirrors the reference's
# 23 ExonFileType keywords (exon_file_type.rs / exon_listing_table_factory.rs).
_FORMAT_KEYWORDS: dict[str, tuple[str, dict]] = {
    "fasta": ("fasta", {}),
    "fa": ("fasta", {}),
    "faa": ("fasta", {}),
    "fna": ("fasta", {}),
    "indexed_fasta": ("fasta", {}),
    "fastq": ("fastq", {}),
    "fq": ("fastq", {}),
    "vcf": ("vcf", {}),
    "indexed_vcf": ("vcf", {"indexed": "true"}),
    "bcf": ("bcf", {}),
    "sam": ("sam", {}),
    "bam": ("bam", {}),
    "indexed_bam": ("bam", {"indexed": "true"}),
    "cram": ("cram", {}),
    "gff": ("gff", {}),
    "indexed_gff": ("gff", {}),
    "gtf": ("gtf", {}),
    "bed": ("bed", {}),
    "hmmdomtab": ("hmm_dom_tab", {}),
    "hmm_dom_tab": ("hmm_dom_tab", {}),
    "genbank": ("genbank", {}),
    "mzml": ("mzml", {}),
    "fcs": ("fcs", {}),
    "sdf": ("sdf", {}),
    "bigwig": ("bigwig_value", {}),
    "bigwig_value": ("bigwig_value", {}),
    "bigwig_zoom": ("bigwig_zoom", {}),
    # Spark-native formats, so `CREATE EXTERNAL TABLE ... STORED AS PARQUET`
    # (DataFusion-inherited in the reference) works through the same DDL path
    "parquet": ("parquet", {}),
    "csv": ("csv", {}),
    "json": ("json", {}),
    # Delta Lake (exon_context_ext.rs:181-185; delta.slt) — native
    # transaction-log replay reader, see sources/delta.py
    "delta": ("delta", {}),
    "deltatable": ("delta", {}),
}

_CREATE_RE = re.compile(
    r"^\s*CREATE\s+(?:EXTERNAL\s+)?TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>`?[\w.]+`?)\s+(?:STORED\s+AS|USING)\s+(?P<fmt>\w+)"
    r"(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_OPTIONS_RE = re.compile(r"OPTIONS\s*\((?P<body>[^)]*)\)", re.IGNORECASE | re.DOTALL)
# values may be quoted ('gzip') or bare (gzip) — the reference accepts both
_PAIR_RE = re.compile(
    r"['\"]?(?P<k>[\w.]+)['\"]?\s+(?:'(?P<v>[^']*)'|(?P<bare>[\w.\-]+))"
)
_LOCATION_RE = re.compile(r"LOCATION\s+'(?P<path>[^']+)'", re.IGNORECASE)

# session config -> implied reader options per format, mirroring the
# reference's `SET exon.vcf_parse_info = true` etc. (config/mod.rs:65-74,130-137)
_CONF_OPTIONS = {
    "vcf": [
        ("spark.exon.vcf_parse_info", "parse_info"),
        ("spark.exon.vcf_parse_formats", "parse_formats"),
    ],
    "bcf": [
        ("spark.exon.vcf_parse_info", "parse_info"),
        ("spark.exon.vcf_parse_formats", "parse_formats"),
    ],
    "sam": [("spark.exon.sam_parse_tags", "parse_tags")],
    "bam": [("spark.exon.bam_parse_tags", "parse_tags")],
    "cram": [("spark.exon.cram_parse_tags", "parse_tags")],
}


def maybe_handle_create_table(spark: SparkSession, sql: str) -> DataFrame | None:
    """If ``sql`` is CREATE [EXTERNAL] TABLE over one of our formats, register
    the reader DataFrame as a temp view and return it; else None (caller
    falls through to ``spark.sql``)."""
    m = _CREATE_RE.match(sql)
    if not m:
        return None
    keyword = m.group("fmt").lower()
    if keyword not in _FORMAT_KEYWORDS:
        return None  # parquet/csv/json/delta etc. — Spark handles natively
    fmt, implied = _FORMAT_KEYWORDS[keyword]
    name = m.group("name").strip("`")
    rest = m.group("rest")

    options = dict(implied)
    om = _OPTIONS_RE.search(rest)
    if om:
        for pm in _PAIR_RE.finditer(om.group("body")):
            key = pm.group("k")
            # reference table options arrive namespaced: 'format.compression',
            # 'fasta.sequence_data_type', etc. — strip the namespace
            for prefix in ("format.", f"{fmt}.", f"{keyword}."):
                if key.startswith(prefix):
                    key = key[len(prefix):]
                    break
            options[key] = pm.group("v") if pm.group("v") is not None else pm.group("bare")
    for conf_key, opt_key in _CONF_OPTIONS.get(fmt, []):
        if opt_key not in options:
            try:
                val = spark.conf.get(conf_key, None)
            except Exception:
                val = None
            if val is not None and str(val).lower() in ("true", "1"):
                options[opt_key] = "true"
    lm = _LOCATION_RE.search(rest)
    path = lm.group("path") if lm else options.pop("path", None)
    if not path:
        raise ValueError(
            f"CREATE TABLE {name} {keyword}: needs LOCATION '<path>' "
            "or OPTIONS (path '<path>')"
        )

    if m.group("ine"):
        try:
            spark.table(name)
            return spark.range(0).select()
        except Exception:
            pass

    bind_table(spark, name, fmt, path, options)
    # like the reference (and SQL), CREATE returns an empty result — the
    # data is read via the view; collecting the CREATE must not scan
    return spark.range(0).select()


@dataclass(frozen=True)
class ExonTable:
    """A format view's binding: enough to re-read it with a pushed-down
    region, plus the unfiltered reader frame the view was created from, so
    the view can be restored without reading the file again."""

    fmt: str
    path: str
    options: dict
    df: DataFrame


def table_registry(spark: SparkSession) -> dict[str, ExonTable]:
    """The session's format views by name (created on first use)."""
    registry = getattr(spark, "_exon_tables", None)
    if registry is None:
        registry = {}
        spark._exon_tables = registry  # type: ignore[attr-defined]
    return registry


def bind_table(
    spark: SparkSession, name: str, fmt: str, path: str, options: dict
) -> DataFrame:
    """Read ``path`` as ``fmt``, register it as temp view ``name`` and
    record the binding so ExonSession.sql can push literal
    x_region_filter(...) predicates back into reader options (§4.1)."""
    from exon_spark.sources import read_format

    df = read_format(spark, fmt, path, **options)
    df.createOrReplaceTempView(name)
    table_registry(spark)[name] = ExonTable(fmt, path, dict(options), df)
    return df


_DROP_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?P<ine>IF\s+EXISTS\s+)?(?P<name>`?[\w.]+`?)\s*;?\s*$",
    re.IGNORECASE,
)


def maybe_handle_drop_table(spark: SparkSession, sql: str) -> DataFrame | None:
    """DROP TABLE over one of our registered format views (Spark would demand
    DROP VIEW for a temp view). Non-exon tables fall through to spark.sql."""
    m = _DROP_RE.match(sql)
    if not m:
        return None
    name = m.group("name").strip("`")
    registry = table_registry(spark)
    if name not in registry:
        return None
    spark.catalog.dropTempView(name)
    registry.pop(name, None)
    return spark.range(0).select()
