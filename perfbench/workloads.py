"""The two workloads: their set-up (DDL, views) and the ops of one pass.

An op runs one user-visible request through the program's public entry
points, inside ``ctx.phase`` blocks that give each phase its own Spark job
group and span. It returns a check of its output against answers derived
from the generators; the caller times the op and runs the check outside
the timed region.
"""

from __future__ import annotations

import os
import random
from collections.abc import Callable
from dataclasses import dataclass

from perfbench import inputs as inp

# one region_lookup pass: (kind, contig, region length). Every contig, every
# length (1 kb, 10 kb, 100 kb) and every spelling appears; the seed picks
# each region's start and the order of the pass. The pass is kept short so
# that a run measures at least two of them.
LOOKUP_PLAN = (
    ("vcf_fn", "chr1", 100_000),
    ("vcf_fn", "chr17", 1_000),
    ("vcf_raw", "chr20", 10_000),
    ("vcf_raw", "chr2", 100_000),
    ("bam_fn", "chrX", 10_000),
    ("vcf_registered", "chr2", 1_000),
    ("bam_export", "chr1", 1_000_000),
)
CHROM_LEN = 60_000_000


@dataclass
class Outcome:
    ok: bool
    rows: int = 0
    written_bytes: int = 0
    detail: str = ""


@dataclass
class Op:
    name: str  # metric-facing name, shared by every op of one kind
    kind: str  # copy | lookup | query
    # runs the request and returns the check of its output, which the
    # caller evaluates outside the timed region
    run: Callable[["object"], Callable[[], Outcome]]
    input_mb: float = 0.0


def _count_lines(path: str) -> int:
    with open(path, "rb") as fh:
        return sum(1 for _ in fh)


_FASTQ_SELECT = (
    "SELECT name, CAST(NULL AS STRING) AS description, sequence, "
    "quality_scores_to_string(quality_score) AS quality_scores"
)


def _region_table(name: str, path: str, region: str) -> str:
    return (
        f"CREATE EXTERNAL TABLE {name} STORED AS INDEXED_BAM LOCATION '{path}' "
        f"OPTIONS (regions '{region}')"
    )


class Workload:
    name = ""

    def __init__(self, ins: inp.Inputs, seed: int):
        self.ins = ins
        self.rng = random.Random(seed)
        self.out_dir = os.path.join(ins.root, "out")

    def ddl(self, ctx) -> None:
        """Tables and views the ops query (part of set-up)."""

    def warm_files(self) -> list[str]:
        return []

    def warmup_ops(self) -> list[Op]:
        return self.pass_ops()

    def pass_ops(self) -> list[Op]:
        raise NotImplementedError


# -------------------------------------------------------------- region_lookup


class RegionLookup(Workload):
    """A closed-loop stream of interactive region queries via ExonSession.sql."""

    name = "region_lookup"

    def __init__(self, ins, seed):
        super().__init__(ins, seed)
        self.coords = inp.Coordinates(ins.bio)
        self.vcf_mb = ins.size_mb("bio/variants.vcf.bgz")
        self.bam_mb = ins.size_mb("bio/aln.bam")
        self.n_export = 0

    def ddl(self, ctx) -> None:
        bio = self.ins.bio
        ctx.xs.sql(
            "CREATE EXTERNAL TABLE vcf_idx STORED AS INDEXED_VCF "
            f"LOCATION '{bio}/variants.vcf.bgz'"
        )
        ctx.xs.sql(
            f"CREATE EXTERNAL TABLE bam_idx STORED AS INDEXED_BAM LOCATION '{bio}/aln.bam'"
        )
        ctx.xs.register_exon_table("vcf_reg", f"{bio}/variants.vcf.bgz", "vcf")

    def warm_files(self) -> list[str]:
        bio = self.ins.bio
        return [os.path.join(bio, f) for f in os.listdir(bio) if f.startswith(("variants", "aln"))]

    def _select(self, kind: str, chrom: str, lo: int, hi: int, n: int, s: int) -> Op:
        region = f"{chrom}:{lo}-{hi}"
        if kind == "vcf_fn":
            q = f"SELECT chrom, pos FROM vcf_idx WHERE vcf_region_filter('{region}', chrom, pos)"
        elif kind == "vcf_registered":
            q = f"SELECT chrom, pos FROM vcf_reg WHERE vcf_region_filter('{region}', chrom, pos)"
        elif kind == "vcf_raw":
            q = f"SELECT chrom, pos FROM vcf_idx WHERE chrom = '{chrom}' AND pos BETWEEN {lo} AND {hi}"
        else:
            q = (
                "SELECT reference, start FROM bam_idx "
                f"WHERE bam_region_filter('{region}', reference, start, `end`)"
            )

        def run(ctx):
            with ctx.phase("plan"):
                df = ctx.xs.sql(q)
            with ctx.phase("action"):
                rows = df.collect()
            ctx.note_plan(df)

            def check() -> Outcome:
                got = (len(rows), sum(r[1] for r in rows))
                return Outcome(got == (n, s), len(rows), detail=f"{got} want {(n, s)} for {q}")

            return check

        return Op(kind, "lookup", run)

    def _export(self, chrom: str, lo: int, hi: int, n: int) -> Op:
        self.n_export += 1
        path = os.path.join(self.out_dir, f"export{self.n_export}.fastq")
        ddl = _region_table("export_region", f"{self.ins.bio}/aln.bam", f"{chrom}:{lo}-{hi}")
        q = f"COPY ({_FASTQ_SELECT} FROM export_region) TO '{path}' STORED AS FASTQ"

        def run(ctx):
            with ctx.phase("copy"):
                ctx.xs.sql(ddl)
                ctx.xs.sql(q)

            def check() -> Outcome:
                got = _count_lines(path) // 4
                return Outcome(got == n, got, os.path.getsize(path), f"records {got} want {n}")

            return check

        return Op("bam_export", "copy", run)

    def _lookup(self, kind: str, chrom: str, length: int) -> Op:
        lo = self.rng.randint(1, CHROM_LEN - length)
        hi = lo + length - 1
        c = self.coords
        if kind.startswith("vcf"):
            n, s = c.vcf_rows(chrom, lo, hi)
            mb = self.vcf_mb * n / c.total("vcf")
        else:
            n, s = c.bam_rows(chrom, lo, hi)
            mb = self.bam_mb * n / c.total("bam")
        op = self._export(chrom, lo, hi, n) if kind == "bam_export" else self._select(kind, chrom, lo, hi, n, s)
        op.input_mb = mb
        return op

    def pass_ops(self) -> list[Op]:
        plan = list(LOOKUP_PLAN)
        self.rng.shuffle(plan)
        return [self._lookup(*p) for p in plan]


# --------------------------------------------------------------- llm_pipeline


class LlmPipeline(Workload):
    """Registry LLM-pipeline queries over the seeded corpus."""

    name = "llm_pipeline"

    def __init__(self, ins, seed):
        super().__init__(ins, seed)
        self.digests = ins.manifest["llm"]["digests"]

    def ddl(self, ctx) -> None:
        from exon_spark.queries import register_views

        with ctx.tracer.span("session.ddl"):
            register_views(ctx.spark, self.ins.llm, ("documents",), force=True)

    def warm_files(self) -> list[str]:
        return [self.ins.llm]

    def _query(self, qname: str) -> Op:
        from exon_spark.queries import ALL_QUERIES

        spec = ALL_QUERIES[qname]
        want = self.digests[qname]
        mb = self.ins.size_mb(f"llm/{inp.LLM_QUERY_TABLE}.parquet")

        def run(ctx):
            with ctx.phase("call"):
                df = spec.spark_fn(ctx.spark, self.ins.llm)
            with ctx.phase("action"):
                pdf = df.toPandas()

            def check() -> Outcome:
                got = inp.digest(pdf)
                return Outcome(got == want, len(pdf), detail=f"{got} want {want}")

            return check

        return Op(qname, "query", run, mb)

    def pass_ops(self) -> list[Op]:
        ops = [self._query(q) for q in inp.LLM_QUERIES]
        self.rng.shuffle(ops)
        return ops


WORKLOADS = {w.name: w for w in (RegionLookup, LlmPipeline)}
