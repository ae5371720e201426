"""JVM-side fast paths for text formats (no Python in the data path).

The Python DataSources (fasta.py, vcf.py, ...) are the fully-featured
readers: header-driven schemas, index-pruned region scans, integer
encodings. But for the *plain scan* case their per-record Python parse is
the bottleneck (~20x slower per record than the reference's Rust parsers).

These readers express the same parse as Column expressions over
``spark.read.text`` / ``spark.read.csv`` — whole-stage-codegen'd, Arrow-free,
zero Python workers — and are used by ``read_format`` automatically when no
Python-only option (sequence_data_type, parse_info, ...) is requested;
indexed VCF region scans go to the Java DataSourceV2 reader.
Schemas are identical to the DataSource schemas, so callers can't tell
which path served them. gzip input is decompressed by the JVM codec;
uncompressed input splits by byte range (Hadoop line reader semantics), so
a single large file fans out across executors — same scale behavior as the
reference's regrouped file scans (SURVEY.md §4.4).
"""

from __future__ import annotations

import bisect
import logging

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger("exon_spark")


def _partition_cols(df: DataFrame, data_col: str = "value") -> list[str]:
    return [c for c in df.columns if c != data_col]


def read_fasta_jvm(spark: SparkSession, path: str) -> DataFrame:
    """FASTA via lineSep='>': one text row per record, then pure Column
    expressions (schema: id, description, sequence — config.rs:166-168).

    The record is parsed with instr/substring/replace on the raw buffer —
    no split-to-array — and the (header, sequence) pair is pinned behind an
    ``explode(array(struct(...)))`` Generate barrier so the id/description
    projections reference the computed header instead of Catalyst inlining
    the substring chain into each (measured 30% faster than the
    split + array_join formulation)."""
    txt = spark.read.option("lineSep", ">").text(path)
    parts = _partition_cols(txt)
    hpos = F.instr("value", "\n")
    header = F.replace(
        F.when(hpos > 0, F.substring("value", F.lit(1), hpos - 1)).otherwise(
            F.col("value")
        ),
        F.lit("\r"),
        F.lit(""),
    )
    seq = F.when(
        hpos > 0,
        F.replace(
            F.replace(
                F.expr("substring(value, instr(value, '\\n') + 1)"),
                F.lit("\r"),
                F.lit(""),
            ),
            F.lit("\n"),
            F.lit(""),
        ),
    ).otherwise(F.lit(""))
    rec = (
        txt.filter(F.length(F.trim(F.col("value"))) > 0)
        .select(
            F.explode(
                F.array(F.struct(header.alias("h"), seq.alias("s")))
            ).alias("r"),
            *parts,
        )
    )
    sp = F.instr("r.h", " ")
    return rec.select(
        F.when(sp > 0, F.expr("substring(r.h, 1, instr(r.h, ' ') - 1)"))
        .otherwise(F.col("r.h"))
        .alias("id"),
        F.when(
            sp > 0, F.nullif(F.expr("substring(r.h, instr(r.h, ' ') + 1)"), F.lit(""))
        ).alias("description"),
        F.col("r.s").alias("sequence"),
        *[F.col(c).cast("string").alias(c) for c in parts],
    )


def read_vcf_jvm(spark: SparkSession, path: str) -> DataFrame:
    """Flat VCF via the csv reader (tab sep, '#' comment lines skipped) +
    Column expressions. Schema matches VcfSource.BASE_SCHEMA
    (schema_builder.rs:88-122)."""
    df = (
        spark.read.option("sep", "\t")
        .option("comment", "#")
        .csv(path, inferSchema=False)
    )
    import re as _re

    data = [c for c in df.columns if _re.fullmatch(r"_c\d+", c)]
    parts = [c for c in df.columns if not _re.fullmatch(r"_c\d+", c)]

    def dot_null(c):
        return F.when(F.col(c).isin(".", ""), None).otherwise(F.col(c))

    arr = "array<string>"  # cast fixes containsNull to match the DataSource schema
    cols = [
        F.col("_c0").alias("chrom"),
        F.col("_c1").try_cast("bigint").alias("pos"),
        F.split(dot_null("_c2"), ";").cast(arr).alias("id"),
        F.col("_c3").alias("ref"),
        F.split(dot_null("_c4"), ",").cast(arr).alias("alt"),
        dot_null("_c5").try_cast("float").alias("qual"),
        F.split(dot_null("_c6"), ";").cast(arr).alias("filter"),
        dot_null("_c7").alias("info"),
    ]
    if len(data) > 8:
        fmt_cols = [F.col(c) for c in data[8:]]
        cols.append(
            F.nullif(F.concat_ws("\t", *fmt_cols), F.lit("")).alias("formats")
        )
    else:
        cols.append(F.lit(None).cast("string").alias("formats"))
    cols += [F.col(c).cast("string").alias(c) for c in parts]
    return df.select(*cols)


_VCF_BASE_COLS = (
    "chrom", "pos", "id", "ref", "alt", "qual", "filter", "info", "formats",
)


# DSv2 full-schema types (exonspark.spark.VcfBgzfSource.FULL_SCHEMA)
_DSV2_TYPES = {
    "chrom": "string",
    "pos": "bigint",
    "id": "array<string>",
    "ref": "string",
    "alt": "array<string>",
    "qual": "float",
    "filter": "array<string>",
    "info": "string",
    "formats": "string",
}


def _plan_dsv2_partitions(index, region_list, target: int):
    """Tabix entry point for _plan_voff_partitions: chunks from the bin
    index, cut points from the linear index."""
    from exon_spark.functions.region import parse_region
    from exon_spark.sources.indexes import tabix_chunks

    per_region = []
    for ridx, region in enumerate(region_list):
        name = parse_region(region)[0]
        chunks = tabix_chunks(index, region) or []
        if chunks:
            cuts = sorted(set(index.linear[index.names.index(name)]))
            per_region.append((ridx, chunks, cuts))
    return _plan_voff_partitions(per_region, target)


def _plan_csi_partitions(cindex, region_list, target: int):
    """CSI entry point (htslib ``tabix --csi`` layout): chunks from the
    binning index, cut points from the per-bin loffsets — both are
    record-start virtual offsets, same contract as the tabix linear
    index."""
    from exon_spark.functions.region import parse_region
    from exon_spark.sources.indexes import csi_chunks

    per_region = []
    for ridx, region in enumerate(region_list):
        name, lo, hi = parse_region(region)
        if name not in cindex.names:
            continue
        rid = cindex.names.index(name)
        chunks = csi_chunks(cindex, rid, lo, hi)
        if chunks:
            cuts = sorted(set(cindex.loffsets[rid].values()))
            per_region.append((ridx, chunks, cuts))
    return _plan_voff_partitions(per_region, target)


def _plan_voff_partitions(per_region, target: int):
    """Record-exact BGZF virtual-offset [beg, end) ranges per region, cut
    at index record offsets and packed into ~`target` partitions balanced
    by compressed size. Every cut point is the virtual offset of a record
    start, so cutting there keeps each range a whole number of VCF lines
    — partitions never split or duplicate a record.

    ``per_region`` = [(region_idx, merged_chunks, sorted_cut_voffsets)].
    Returns [(region_idx, [(beg, end), ...]), ...]. Partitions never mix
    regions: each is filtered executor-side by its OWN region only, which
    reproduces the Python DataSource's per-region scan semantics exactly
    (overlapping regions each emit their own matches)."""
    subranges: list[tuple[int, int, int]] = []  # (region_idx, beg, end)
    for ridx, chunks, cuts in per_region:
        for cb, ce in chunks:
            lo = bisect.bisect_right(cuts, cb)
            hi = bisect.bisect_left(cuts, ce)
            prev = cb
            for v in cuts[lo:hi]:
                if v > prev:
                    subranges.append((ridx, prev, v))
                    prev = v
            if ce > prev:
                subranges.append((ridx, prev, ce))
    if not subranges:
        return []
    total = sum((e >> 16) - (b >> 16) for _r, b, e in subranges)
    per = max(1, total // max(target, 1))
    parts: list[tuple[int, list[tuple[int, int]]]] = []
    cur: list[tuple[int, int]] = []
    cur_ridx = subranges[0][0]
    acc = 0
    for ridx, b, e in subranges:
        if cur and ridx != cur_ridx:
            parts.append((cur_ridx, cur))
            cur, acc = [], 0
        cur_ridx = ridx
        cur.append((b, e))
        acc += (e >> 16) - (b >> 16)
        if acc >= per and len(parts) < target - 1:
            parts.append((cur_ridx, cur))
            cur, acc = [], 0
    if cur:
        parts.append((cur_ridx, cur))
    return parts


def read_vcf_region_dsv2(
    spark: SparkSession, path: str, regions: str, columns
) -> DataFrame | None:
    """Region scan through the Java DataSourceV2 (exonspark.spark.
    VcfBgzfSource): the driver plans record-exact virtual-offset ranges
    from the tabix index; executors seek + inflate only those BGZF blocks
    and parse the projected fields straight from the decompressed bytes
    into InternalRows. Beats the codec + spark.read.text route by skipping
    the LineReader Text copy, the full-line row, and the per-field
    substring scans. Serves every base VCF column (``formats`` is the raw
    FORMAT + sample text, as in the Python DataSource), so Catalyst prunes
    the scan to whatever the query reads. Returns None when the projection
    names a column outside the base schema or the file has no index that
    names its contigs (caller falls back to the codec+text path).

    At cluster scale the planned ranges ship inside InputPartitions, so
    executors need only the file itself (any shared/posix fs); partition
    count tracks defaultParallelism, not file count."""
    import os

    from exon_spark.functions.region import expand_regions, parse_region
    from exon_spark.sources.indexes import read_csi, read_tabix

    want = (
        [c.strip() for c in columns.split(",") if c.strip()]
        if isinstance(columns, str)
        else list(columns)
    )
    if not set(want) <= set(_DSV2_TYPES):
        return None
    region_list = expand_regions(regions)
    target = spark.sparkContext.defaultParallelism * 2
    if os.path.exists(path + ".tbi"):
        parts = _plan_dsv2_partitions(read_tabix(path + ".tbi"), region_list, target)
    elif os.path.exists(path + ".csi"):
        cindex = read_csi(path + ".csi")
        if not cindex.names:
            return None  # BCF/BAM-style .csi without the tabix aux names
        parts = _plan_csi_partitions(cindex, region_list, target)
    else:
        return None
    ddl = ", ".join(f"{c} {_DSV2_TYPES[c]}" for c in want)
    if not parts:
        return spark.createDataFrame([], ddl)
    pstr = "|".join(
        f"{ridx}@" + ";".join(f"{b}:{e}" for b, e in ranges)
        for ridx, ranges in parts
    )
    rstr = ",".join(
        f"{n}:{lo}:{hi}" for n, lo, hi in map(parse_region, region_list)
    )
    df = (
        spark.read.format("exonspark.spark.VcfBgzfSource")
        .option("path", path)
        .option("partitions", pstr)
        .option("regions", rstr)
        .load()
    )
    return df.select(*want)


def read_vcf_region_jvm(
    spark: SparkSession, path: str, regions: str, columns=None
) -> DataFrame:
    """Region scan of a bgzipped VCF entirely JVM-side: the splittable BGZF
    codec (exon_spark.jvm, suffix .bgz) byte-range-splits the compressed
    file across executors, a codegen'd ``startswith('<chrom>\\t')`` prefix
    filter rejects non-region lines before any field split, and only the
    fields the projection needs are split out (split-with-limit). No Python
    worker touches the data path — this clears the ~1.8 us/row Arrow→row
    ingest floor of the Python DataSource route (SCALE.md "Measured
    floors"), which is the entire gap to the reference on whole-chromosome
    scans (BASELINE vcf_region_chr1).

    Every local, indexed, codec-enabled VCF region read is routed here
    (jvm_fast_reader), whatever the region's size: the DSv2 reader and the
    pruned codec view both inflate only the region's BGZF blocks.

    Row semantics match the Python DataSource exactly: same dot-null
    handling, same region_match filter (1-based inclusive,
    udfs/vcf/mod.rs:107-121)."""
    from exon_spark.functions.region import expand_regions

    region_list = expand_regions(regions)
    if isinstance(columns, str):
        want = [c.strip() for c in columns.split(",") if c.strip()]
    else:
        want = list(columns) if columns else list(_VCF_BASE_COLS)

    # Fastest route first: the Java DataSourceV2 parses projected fields
    # straight from the inflated bytes (no LineReader copy, no full-line
    # row). Falls through to the codec+text path when it cannot serve the
    # read, or fails (stale jar) — logged, since that path is slower.
    try:
        dsv2 = read_vcf_region_dsv2(spark, path, regions, want)
    except Exception as e:
        log.warning(
            "VCF region read of %s: the DSv2 reader failed (%s: %s); "
            "falling back to the slower codec+text scan",
            path,
            type(e).__name__,
            e,
        )
        dsv2 = None
    if dsv2 is not None:
        return dsv2

    if len(region_list) > 1:
        # Per-region multiset semantics (pinned equal to the DSv2 and
        # Python-DataSource routes by test): a record overlapped by k
        # requested regions appears k times, once from each region's
        # branch. The OR-of-predicates spelling this replaces emitted
        # shared records once — a different multiset for overlapping or
        # duplicate region lists. Each branch prunes to its own region's
        # index chunks, so the union scans no more blocks than the merged
        # view did (shared blocks are decoded once per overlapping region,
        # the price of the exact semantics; multi-region codec-path scans
        # are rare — DSv2 serves them when the class is present).
        from functools import reduce

        return reduce(
            DataFrame.unionAll,
            [
                _vcf_codec_text_scan(spark, path, [r], want)
                for r in region_list
            ],
        )
    return _vcf_codec_text_scan(spark, path, region_list, want)


def _vcf_codec_text_scan(
    spark: SparkSession, path: str, region_list: list[str], want: list[str]
) -> DataFrame:
    """The codec+text fallback for one region group: BGZF-view (or
    full-file) ``spark.read.text`` scan + codegen'd prefix filter + field
    extraction. Region semantics are single-region here — multi-region
    calls go through read_vcf_region_jvm's per-region union."""
    from exon_spark.functions.region import parse_region, region_match

    names = sorted({parse_region(r)[0] for r in region_list})
    idx = {c: i for i, c in enumerate(_VCF_BASE_COLS)}
    needed = set(want) | {"chrom", "pos"}
    max_i = max(idx[c] for c in needed)

    # Index pruning: scan an exoncat:// view holding only the regions'
    # BGZF blocks (driver-planned from the tabix index, boundary blocks
    # re-cut at record offsets — bgzf_view.build_region_view). The filters
    # below still run — chunk ranges are block-granular supersets.
    scan_path = path
    import os as _os

    if _os.path.exists(path + ".tbi"):
        try:
            from exon_spark.sources.bgzf_view import build_region_view
            from exon_spark.sources.indexes import read_tabix, tabix_chunks

            index = read_tabix(path + ".tbi")
            chunks: list[tuple[int, int]] = []
            for region in region_list:
                chunks.extend(tabix_chunks(index, region))
            if chunks:
                scan_path = build_region_view(path, chunks)
        except Exception:
            scan_path = path  # full-file codec scan; filters keep it exact

    txt = spark.read.text(scan_path)
    parts = _partition_cols(txt)
    pre = None
    for n in names:
        c = F.col("value").startswith(n + "\t")
        pre = c if pre is None else (pre | c)
    rec = txt.filter(pre)

    def dot_null(c):
        return F.when(c.isin(".", ""), None).otherwise(c)

    # Field extraction strategy (measured at 28M rows / 2.6 GB, floor =
    # decompress+lines+prefix-filter 1.47 s): a split('\t')-array pinned
    # behind a Generate barrier costs +1.7 s (array + line-remainder
    # materialization); a locate()-chain with expression offsets costs
    # +2.8 s (character-position scans are UTF-8-aware and re-run per
    # consumer). Cheapest measured: double substring_index per field
    # (+0.57 s for pos) — it scans only the leading bytes and stays inside
    # whole-stage codegen. The barrier idiom is for *expensive* producers;
    # these are not. Fall back to the barrier-pinned full split only when
    # trailing fields (formats) are requested.
    if "formats" not in needed and max_i <= 6:
        def g(i: int):
            # field i = last field of the first (i+1) fields
            return F.substring_index(
                F.substring_index(F.col("value"), "\t", i + 1), "\t", -1
            )

        # after the single-name prefix filter, chrom is a constant
        chrom_expr = F.lit(names[0]) if len(names) == 1 else g(0)
    else:
        rec = rec.select(
            F.explode(F.array(F.split(F.col("value"), "\t", -1))).alias("f"),
            *parts,
        )

        def g(i: int):
            return F.element_at(F.col("f"), i + 1)

        chrom_expr = g(0)

    arr = "array<string>"

    def split_null(i: int, sep: str):
        # '.'/'' -> null checked BEFORE the split, so the field expression
        # is evaluated once on the hot path (codegen subexpression
        # elimination does not reach into CASE branches — a
        # when(split(dot_null(x))) spelling re-evaluates x per branch,
        # measured +1 s on 28M rows)
        return F.when(g(i).isin(".", ""), None).otherwise(
            F.split(g(i), sep)
        ).cast(arr)

    builders = {
        "chrom": lambda: chrom_expr,
        "pos": lambda: g(1).try_cast("bigint"),
        "id": lambda: split_null(2, ";"),
        "ref": lambda: g(3),
        "alt": lambda: split_null(4, ","),
        "qual": lambda: dot_null(g(5)).try_cast("float"),
        "filter": lambda: split_null(6, ";"),
        "info": lambda: dot_null(g(7)),
        "formats": lambda: F.nullif(
            F.array_join(F.slice(F.col("f"), 9, 2147483647), "\t"), F.lit("")
        ),
    }
    exprs = {c: builders[c]() for c in needed}
    # the chrom prefix filter already holds; add pos bounds only for
    # regions that actually have them (a whole-chromosome region scan
    # never parses pos for its filter)
    bounded = [r for r in region_list if parse_region(r)[1:] != (1, 2**63 - 1)]
    if bounded or len(names) > 1:
        pred = None
        for r in region_list:
            m = region_match(exprs["chrom"], exprs["pos"], r)
            pred = m if pred is None else (pred | m)
        rec = rec.filter(pred)
    return rec.select(
        *[exprs[c].alias(c) for c in want],
        *[F.col(c).cast("string").alias(c) for c in parts],
    )


def _vcf_region_jvm_route(path: str, options: dict, spark=None):
    """Route a VCF region scan to the JVM path (DSv2, else codec+text) when
    (a) the file is a local bgzf (.bgz, or .gz proven bgzf by its .tbi)
    with a tabix or named CSI index, (b) no Python-only parse option is
    set, (c) the session carries the codec, and (d) the index has chunks
    for the region — whatever their share of the file."""
    regions = options.get("regions") or options.get("region")
    if not regions or not str(path).lower().endswith((".bgz", ".gz")):
        return None
    for k in ("parse_info", "parse_formats", "sequence_data_type"):
        if str(options.get(k, "")).strip() not in ("", "false"):
            return None
    from exon_spark.sources.fs import scheme_of

    if scheme_of(path) is not None:
        return None
    import os

    tbi = path + ".tbi"
    csi = path + ".csi"
    if not os.path.exists(tbi) and not os.path.exists(csi):
        return None
    if spark is not None:
        from exon_spark.sources.bgzf_view import codec_active

        if not codec_active(spark):
            return None
    try:
        from exon_spark.functions.region import expand_regions, parse_region
        from exon_spark.sources.indexes import (
            csi_chunks,
            read_csi,
            read_tabix,
            tabix_chunks,
        )

        chunks: list[tuple[int, int]] = []
        if os.path.exists(tbi):
            index = read_tabix(tbi)
            for region in expand_regions(str(regions)):
                chunks.extend(tabix_chunks(index, region) or [])
        else:
            # htslib `tabix --csi` layout: the DSv2 plans from the CSI
            # directly; only route when the aux names are present (the
            # Python path keeps csi files the DSv2 can't serve)
            cindex = read_csi(csi)
            if not cindex.names:
                return None
            for region in expand_regions(str(regions)):
                name, lo, hi = parse_region(region)
                if name in cindex.names:
                    chunks.extend(
                        csi_chunks(cindex, cindex.names.index(name), lo, hi)
                    )
        size = os.path.getsize(path)
        if (
            os.path.exists(tbi)
            and not path.lower().endswith(".bgz")
            and chunks
        ):
            # .gz name: the codec+text FALLBACK must go through the pruned
            # view (the raw path would hit the unsplittable gzip codec) —
            # build it eagerly so failure routes to the Python path
            # instead. csi-only files skip this: their fallback-of-last-
            # resort is the filtered full scan, still correct.
            from exon_spark.sources.bgzf_view import build_region_view

            build_region_view(path, chunks)
    except Exception:
        return None
    if size <= 0 or not chunks:
        return None
    # Small regions used to stay on the Python tabix path (pruning
    # dominated, parse cost was irrelevant); with the DSv2 byte parser and
    # the exoncat pruned views both decompressing only the region's share,
    # the JVM path wins at every span, so route unconditionally.
    cols = options.get("columns")
    return lambda spark, p: read_vcf_region_jvm(
        spark, p, regions=str(regions), columns=cols
    )


# mzML columns expressible without the base64/zlib binary decode
_MZML_META_COLS = ("id", "precursor_mz", "precusor_charge")


def read_mzml_meta_jvm(spark: SparkSession, path: str, cols) -> DataFrame:
    """mzML metadata projection via lineSep='</spectrum>': one text row per
    spectrum, metadata extracted with codegen'd regexps — no XML parse, no
    base64/zlib, no Python workers.

    This is the Spark-side mirror of the reference's projection pushdown:
    DataFusion hands ListingMzMLTable a column projection, so a
    ``COUNT(*)``/metadata query over the Rust engine never decodes peak
    arrays either (exon-mzml scan with empty projection). Spark can't push
    projections into Python DataSources, so the pruning decision rides the
    explicit ``columns`` option instead and ``read_format`` routes here
    when the projection avoids the binary-array/cv_params columns.

    Splittable like the FASTA fast path: uncompressed input scans as byte
    ranges (custom-lineSep Hadoop text semantics), so one large run file
    fans out across executors. cvParam attribute order is not fixed by the
    schema — both orders are matched.
    """
    txt = spark.read.option("lineSep", "</spectrum>").text(path)
    spec = txt.filter(F.col("value").contains("<spectrum "))

    def cv_value(acc: str):
        # [^>]*? spans attribute text (incl. newlines — cvParam elements
        # wrap, and name="... m/z" contains '/') but cannot escape the
        # element: '>' terminates it
        a = F.regexp_extract("value", f'accession="{acc}"[^>]*?value="([^"]*)"', 1)
        b = F.regexp_extract("value", f'value="([^"]*)"[^>]*?accession="{acc}"', 1)
        return F.when(a != "", a).when(b != "", b)

    exprs = {
        "id": F.regexp_extract("value", r'<spectrum\b[^>]*?\bid="([^"]*)"', 1),
        "precursor_mz": cv_value("MS:1000744").cast("double"),
        "precusor_charge": cv_value("MS:1000041").cast("bigint"),
    }
    return spec.select(*[exprs[c].alias(c) for c in cols])


def jvm_fast_reader(fmt: str, path: str, options: dict, spark=None):
    """Return the JVM fast-path reader for fmt if the requested options are
    compatible with it, else None. ``spark`` (when given) gates the
    codec-dependent routes on the session actually carrying the BGZF
    codec."""
    if fmt == "vcf":
        region_reader = _vcf_region_jvm_route(path, options, spark)
        if region_reader is not None:
            return region_reader
    python_only = {"regions", "region", "sequence_data_type", "parse_info",
                   "parse_formats", "indexed", "file_extension"}
    if any(str(options.get(k, "")).strip() not in ("", "false")
           for k in python_only):
        return None
    from exon_spark.sources.fs import scheme_of

    scheme = scheme_of(path)
    if scheme is not None and scheme not in ("s3a", "gs", "hdfs", "abfss", "wasbs"):
        # exon_spark fs-handler schemes (s3://, mock://) are Python-side
        # only; Hadoop-native schemes pass straight through to the JVM
        return None
    comp = str(options.get("compression", "")).lower()
    if comp not in ("", "none", "gzip"):
        return None  # zstd etc. need the Python codec path
    if path.lower().endswith((".zst", ".zstd", ".bz2", ".xz")):
        return None  # no JVM codec for these here
    if comp == "gzip" and not path.lower().endswith((".gz", ".bgz")):
        return None  # JVM codecs dispatch on extension only
    if fmt == "fasta":
        # The lineSep='>' text scan IS byte-range splittable (verified:
        # 183 MB file, 32 splits, record counts agree with the Python
        # byte-range reader) and measures ~400 MB/s aggregate on 32 cores
        # — faster at every size tried (19-183 MB plain, 2.4-23 MB gzip
        # shards) than the Python DataSource route, whose Arrow pipe caps
        # ~150 MB/s aggregate here. So the JVM path keeps ALL plain/gzip
        # scans; the vectorized Python framing (fasta.py
        # read_arrow_partition) still serves scans the JVM can't take:
        # object-store schemes (s3://, mock://), regions, encodings.
        return read_fasta_jvm
    if fmt == "vcf":
        if path.lower().endswith((".gz", ".bgz")):
            if spark is not None:
                from exon_spark.sources.bgzf_view import jvm_bgzf_src

                src = jvm_bgzf_src(spark, path)
                if src is not None:
                    # splittable BGZF codec: the csv scan byte-range
                    # splits the compressed file itself (a .gz-named bgzf
                    # goes through a .bgz symlink view)
                    return lambda spark, p, _s=src: read_vcf_jvm(spark, _s)
            from exon_spark.sources.fs import fs_exists

            if fs_exists(path + ".tbi"):
                # no codec in this session: the Python path splits the
                # stream at linear-index record boundaries; the stock JVM
                # gzip codec is one unsplittable partition per file —
                # ~15x slower on a 2.5 GB VCF (measured)
                return None
        return read_vcf_jvm
    if fmt == "mzml":
        cols = options.get("columns")
        if isinstance(cols, str):
            cols = [c.strip() for c in cols.split(",") if c.strip()]
        if cols and set(cols) <= set(_MZML_META_COLS):
            return lambda spark, path: read_mzml_meta_jvm(spark, path, cols)
        return None  # full schema needs the Python binary-decode path
    return None
