"""Region statements through ExonSession.sql plan their reads once.

Pinned here: one ``read_format`` per rebound table per statement, the view
restored unfiltered afterwards, each ``.tbi`` parsed once, region pushdown
for ``register_exon_table`` bindings, the DSv2 reader serving every VCF
column (``formats`` included, equal across all three read routes), a
second Spark session, the single-pass region COPY, the logged DSv2
fallback, and the codec jar's source-digest staleness check.
"""

from __future__ import annotations

import logging
import os
import random
import re

import pytest

from exon_spark import ExonSession

_CHROMS = ("chr1", "chr2")
_REGION = "chr1:200000-1800000"


def _write_vcf(path_plain, rng, samples: bool) -> dict[str, list[int]]:
    header = ["##fileformat=VCFv4.2"]
    cols = "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"
    if samples:
        header += [
            '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
            '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Depth">',
        ]
        cols += "\tFORMAT\tS1\tS2"
    lines = header + [cols]
    positions: dict[str, list[int]] = {}
    for chrom in _CHROMS:
        positions[chrom] = sorted(rng.sample(range(1, 3_000_000), 1200))
        for pos in positions[chrom]:
            rec = (
                f"{chrom}\t{pos}\t{rng.choice(['.', f'rs{pos}'])}\tA\t"
                f"{rng.choice(['G', 'G,T', '.'])}\t{rng.choice(['.', '31.5'])}\t"
                f"{rng.choice(['PASS', '.', 'q10;s50'])}\tDP={rng.randint(1, 90)}"
            )
            if samples:
                fmt = rng.choice(["GT", "GT:DP"])

                def sample():
                    gt = rng.choice(["0/1", "1/1", "0/0", "./."])
                    return gt if fmt == "GT" else f"{gt}:{rng.randint(1, 60)}"

                rec += f"\t{fmt}\t{sample()}\t{sample()}"
            lines.append(rec)
    path_plain.write_text("\n".join(lines) + "\n")
    return positions


@pytest.fixture(scope="module")
def vcfs(tmp_path_factory):
    """Two tabix-indexed BGZF VCFs: with FORMAT + two sample columns, and
    with the 8 fixed columns only. Returns {kind: (path, positions)}."""
    from exon_spark.sources.bgzf import bgzip_file
    from exon_spark.sources.indexes import build_tabix_vcf

    root = tmp_path_factory.mktemp("region_session")
    rng = random.Random(11)
    out = {}
    for kind in ("samples", "sites"):
        plain = root / f"{kind}.vcf"
        positions = _write_vcf(plain, rng, samples=kind == "samples")
        gz = str(root / f"{kind}.vcf.bgz")
        bgzip_file(str(plain), gz)
        build_tabix_vcf(gz)
        out[kind] = (gz, positions)
    return out


def _in_region(positions, region=_REGION):
    chrom, span = region.split(":")
    lo, hi = map(int, span.split("-"))
    return [p for p in positions[chrom] if lo <= p <= hi]


@pytest.fixture
def read_format_calls(monkeypatch):
    """Spy on ``exon_spark.sources.read_format``: the options of each call."""
    import exon_spark.sources as sources

    calls: list[dict] = []
    real = sources.read_format

    def spy(spark_, fmt, path, **options):
        calls.append(dict(options))
        return real(spark_, fmt, path, **options)

    monkeypatch.setattr(sources, "read_format", spy)
    return calls


# ------------------------------------------------ one read per statement


def test_region_statement_reads_once_and_restores_view(
    spark, vcfs, read_format_calls
):
    path, positions = vcfs["samples"]
    sess = ExonSession(spark)
    sess.sql(f"CREATE EXTERNAL TABLE rs_idx STORED AS INDEXED_VCF LOCATION '{path}'")
    sess.sql(f"CREATE EXTERNAL TABLE rs_plain STORED AS VCF LOCATION '{path}'")
    try:
        read_format_calls.clear()
        for table in ("rs_idx", "rs_plain"):
            rows = sess.sql(
                f"SELECT chrom, pos FROM {table} "
                f"WHERE vcf_region_filter('{_REGION}', chrom, pos)"
            ).collect()
            assert sorted(r.pos for r in rows) == _in_region(positions)
        lo, hi = 1_000_000, 2_500_000
        n = sess.sql(
            "SELECT count(*) AS n FROM rs_idx "
            f"WHERE chrom = 'chr2' AND pos BETWEEN {lo} AND {hi}"
        ).collect()[0].n
        assert n == sum(1 for p in positions["chr2"] if lo <= p <= hi)
        # one read per rebound table per statement, always with the region
        assert [c.get("regions") for c in read_format_calls] == [
            _REGION,
            _REGION,
            f"chr2:{lo}-{hi}",
        ]

        # afterwards the views are the unfiltered originals again, restored
        # without a further read of the file
        total = sum(len(v) for v in positions.values())
        assert spark.sql("SELECT count(*) AS n FROM rs_plain").collect()[0].n == total
        assert len(read_format_calls) == 3
        restored = spark.table("rs_idx")._jdf.queryExecution().analyzed().toString()
        assert "VcfBgzf" not in restored
    finally:
        sess.sql("DROP TABLE rs_idx")
        sess.sql("DROP TABLE rs_plain")


def test_tbi_parsed_once_across_lookups(spark, vcfs, monkeypatch):
    import exon_spark.sources.fs as fs
    from exon_spark.sources.indexes import read_tabix

    path, positions = vcfs["samples"]
    sess = ExonSession(spark)
    sess.sql(f"CREATE EXTERNAL TABLE tbi_once STORED AS INDEXED_VCF LOCATION '{path}'")
    read_tabix.cache_clear()
    opened: list[str] = []
    real_open = fs.fs_open

    def spy(p):
        opened.append(p)
        return real_open(p)

    monkeypatch.setattr(fs, "fs_open", spy)
    try:
        for region in ("chr1:1-500000", "chr2:100000-900000", _REGION):
            rows = sess.sql(
                "SELECT pos FROM tbi_once "
                f"WHERE vcf_region_filter('{region}', chrom, pos)"
            ).collect()
            assert sorted(r.pos for r in rows) == _in_region(positions, region)
        assert [p for p in opened if p.endswith(".tbi")] == [path + ".tbi"]
    finally:
        sess.sql("DROP TABLE tbi_once")


def test_index_cache_follows_file_changes(vcfs):
    from exon_spark.sources.indexes import read_tabix

    tbi = vcfs["sites"][0] + ".tbi"
    first = read_tabix(tbi)
    assert read_tabix(tbi) is first
    st = os.stat(tbi)
    os.utime(tbi, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    again = read_tabix(tbi)
    assert again is not first and again == first


def test_register_exon_table_gets_region_pushdown(spark, vcfs, read_format_calls):
    import pyspark.sql.functions as F

    path, positions = vcfs["samples"]
    sess = ExonSession(spark)
    sess.register_exon_table("reg_vcf", path, "vcf")
    try:
        read_format_calls.clear()
        pushed = sess.sql(
            "SELECT chrom, pos, formats FROM reg_vcf "
            f"WHERE vcf_region_filter('{_REGION}', chrom, pos)"
        )
        assert [c.get("regions") for c in read_format_calls] == [_REGION]
        chrom, span = _REGION.split(":")
        lo, hi = map(int, span.split("-"))
        unpushed = (
            spark.read.format("vcf")
            .load(path)
            .filter((F.col("chrom") == chrom) & F.col("pos").between(lo, hi))
            .select("chrom", "pos", "formats")
        )
        got = sorted(map(tuple, pushed.collect()))
        assert got == sorted(map(tuple, unpushed.collect()))
        assert [p for _c, p, _f in got] == _in_region(positions)
    finally:
        sess.sql("DROP TABLE reg_vcf")


# ------------------------------------------- DSv2 serves every VCF column


def test_indexed_vcf_region_plans_dsv2_batch_scan(spark, vcfs):
    path, _ = vcfs["samples"]
    sess = ExonSession(spark)
    sess.sql(f"CREATE EXTERNAL TABLE plan_idx STORED AS INDEXED_VCF LOCATION '{path}'")
    try:
        df = sess.sql(
            "SELECT chrom, pos FROM plan_idx "
            f"WHERE vcf_region_filter('{_REGION}', chrom, pos)"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = [ln for ln in plan.splitlines() if "BatchScan" in ln]
        assert len(scans) == 1 and "VcfBgzfScan" in scans[0], plan
        assert "(Python)" not in plan and "EvalPython" not in plan
        # Catalyst pruned the scan to the queried columns
        out_cols = re.findall(r"(\w+)#\d+", scans[0])
        assert set(out_cols) <= {"chrom", "pos"}, scans[0]
    finally:
        sess.sql("DROP TABLE plan_idx")


@pytest.mark.parametrize("kind", ["samples", "sites"])
def test_vcf_formats_agree_across_routes(spark, vcfs, monkeypatch, kind):
    """Python DataSource, Java DSv2 and the codec+text fallback return the
    same rows, ``formats`` included (FORMAT + samples, or null)."""
    from exon_spark.sources import jvm_fast
    from exon_spark.sources.jvm_fast import (
        _VCF_BASE_COLS,
        read_vcf_region_dsv2,
        read_vcf_region_jvm,
    )

    path, positions = vcfs[kind]
    cols = list(_VCF_BASE_COLS)
    python = spark.read.format("vcf").option("regions", _REGION).load(path).select(*cols)
    dsv2 = read_vcf_region_dsv2(spark, path, _REGION, cols)
    assert dsv2 is not None
    monkeypatch.setattr(jvm_fast, "read_vcf_region_dsv2", lambda *a, **k: None)
    codec = read_vcf_region_jvm(spark, path, _REGION, cols)
    assert "VcfBgzfScan" not in codec._jdf.queryExecution().executedPlan().toString()

    want = sorted(map(tuple, python.collect()))
    assert len(want) == len(_in_region(positions))
    assert dsv2.schema == python.schema == codec.schema
    assert sorted(map(tuple, dsv2.collect())) == want
    assert sorted(map(tuple, codec.collect())) == want
    formats = {r.formats for r in python.select("formats").collect()}
    if kind == "samples":
        assert all(f.split("\t")[0] in ("GT", "GT:DP") for f in formats)
        assert all(len(f.split("\t")) == 3 for f in formats)
    else:
        assert formats == {None}


def test_dsv2_failure_is_logged(spark, vcfs, monkeypatch, caplog):
    from exon_spark.sources import jvm_fast
    from exon_spark.sources.jvm_fast import read_vcf_region_jvm

    def broken(*_a, **_k):
        raise RuntimeError("dsv2 planner exploded")

    monkeypatch.setattr(jvm_fast, "read_vcf_region_dsv2", broken)
    path, positions = vcfs["sites"]
    with caplog.at_level(logging.WARNING, logger="exon_spark"):
        df = read_vcf_region_jvm(spark, path, _REGION, ["chrom", "pos"])
    assert df.count() == len(_in_region(positions))
    warned = [r for r in caplog.records if r.name == "exon_spark"]
    assert len(warned) == 1 and warned[0].levelno == logging.WARNING
    assert "dsv2 planner exploded" in warned[0].getMessage()
    assert path in warned[0].getMessage()


# --------------------------------------------------------- session start


def test_register_once_and_second_session(spark, vcfs, monkeypatch):
    import exon_spark.functions.registry as registry

    calls = []
    real = registry.register_sql_functions

    def spy(session):
        calls.append(session)
        real(session)

    monkeypatch.setattr(registry, "register_sql_functions", spy)
    other = spark.newSession()
    sess = ExonSession(other)
    ExonSession(other)
    assert len(calls) == 1
    assert other.sql("SELECT reverse_complement('ATCG') AS r").first().r == "CGAT"
    path, positions = vcfs["sites"]
    n = other.read.format("vcf").load(path).count()  # Python DataSource
    assert n == sum(len(v) for v in positions.values())
    assert sess.sql("SELECT count(*) AS n FROM vcf_scan('" + path + "')").first().n == n
    # the first session is untouched and stays usable
    assert spark.sql("SELECT reverse_complement('AAC') AS r").first().r == "GTT"
    assert spark.read.format("vcf").load(path).count() == n


# ------------------------------------------------------------------ COPY


@pytest.fixture(scope="module")
def indexed_bam(tmp_path_factory):
    from exon_spark.sources.bam import sam_to_bam
    from exon_spark.sources.indexes import build_bai

    root = tmp_path_factory.mktemp("copy_bam")
    rng = random.Random(5)
    lines = ["@HD\tVN:1.6\tSO:coordinate"] + [
        f"@SQ\tSN:{c}\tLN:5000000" for c in _CHROMS
    ]
    for chrom in _CHROMS:
        for i, pos in enumerate(sorted(rng.sample(range(1, 4_999_000), 2000))):
            lines.append(
                f"{chrom}_{i}\t0\t{chrom}\t{pos}\t60\t10M\t*\t0\t0\t"
                "ACGTACGTAC\tIIIIIIIIII"
            )
    sam = root / "aln.sam"
    sam.write_text("\n".join(lines) + "\n")
    bam = str(root / "aln.bam")
    sam_to_bam(str(sam), bam)
    build_bai(bam)
    return bam


def test_copy_region_query_single_pass(spark, indexed_bam, tmp_path):
    sess = ExonSession(spark)
    sess.sql(f"CREATE EXTERNAL TABLE copy_bam STORED AS INDEXED_BAM LOCATION '{indexed_bam}'")
    sess.sql(f"CREATE EXTERNAL TABLE copy_bam_all STORED AS BAM LOCATION '{indexed_bam}'")
    select = (
        "SELECT name, CAST(NULL AS STRING) AS description, sequence, "
        "quality_scores_to_string(quality_score) AS quality_scores FROM {t} "
        "WHERE bam_region_filter('chr2:1000000-2000000', reference, start, `end`)"
    )
    out = str(tmp_path / "region.fastq")
    sc = spark.sparkContext
    try:
        want = spark.sql(select.format(t="copy_bam_all")).count()
        assert want > 0
        sc.setJobGroup("copy_region_single_pass", "COPY")
        result = sess.sql(
            f"COPY ({select.format(t='copy_bam')}) TO '{out}' STORED AS FASTQ"
        )
        jobs = sc.statusTracker().getJobIdsForGroup("copy_region_single_pass")
        n = result.collect()[0]["count"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sess.sql("DROP TABLE copy_bam")
        sess.sql("DROP TABLE copy_bam_all")
    with open(out) as fh:
        records = sum(1 for _ in fh) // 4
    assert n == records == want
    assert len(jobs) == 1  # the write alone; no separate count job


# ------------------------------------------------------------- codec jar


def test_jar_staleness_follows_source_content(tmp_path, monkeypatch):
    import shutil
    import subprocess

    import exon_spark.jvm as jvm

    src = tmp_path / "java"
    shutil.copytree(jvm._SRC_DIR, src)
    jar = tmp_path / "codec.jar"
    shutil.copy(jvm._JAR, jar)
    monkeypatch.setattr(jvm, "_SRC_DIR", str(src))
    monkeypatch.setattr(jvm, "_JAR", str(jar))
    monkeypatch.setattr(jvm, "_JVM_DIR", str(tmp_path))
    builds = []

    def fake_run(cmd, **_k):
        builds.append(cmd)
        raise subprocess.CalledProcessError(1, cmd)

    monkeypatch.setattr(subprocess, "run", fake_run)
    # the committed jar was built from the committed sources
    assert jvm.ensure_bgzf_jar() == str(jar) and builds == []
    # newer mtimes alone (a fresh checkout) do not make it stale
    java = sorted(src.rglob("*.java"))
    for f in java:
        os.utime(f, (os.path.getatime(jar) + 100, os.path.getmtime(jar) + 100))
    assert jvm.ensure_bgzf_jar() == str(jar) and builds == []
    # changed source content does (javac may be absent here: then no build)
    java[0].write_text(java[0].read_text() + "\n// edited\n")
    assert jvm.ensure_bgzf_jar() == str(jar)
    if shutil.which("javac") and jvm._compile_classpath():
        assert builds and "javac" in os.path.basename(builds[0][0])
