"""Index-file readers used for region-pruned scans (driver-side, planning
time — mirrors the reference's indexed_file/ module).

* ``.fai`` FASTA index — text format; byte ranges computed arithmetically
  from (offset, linebases, linewidth), as in
  exon/exon-core/src/datasources/indexed_file/fai.rs:29-47.
* ``.tbi`` tabix index — bgzf-compressed binary; region query returns BGZF
  virtual-offset chunks (indexed_bgzf_file.rs:52-112 semantics), implemented
  in pure Python over exon_spark.sources.bgzf.

Parsed ``.tbi``/``.bai``/``.csi`` indexes are cached per process, keyed by
(path, size, mtime), so repeated region lookups on one file parse its
index once; callers treat the returned index as read-only.
"""

from __future__ import annotations

import functools
import gzip
import os
import struct
from dataclasses import dataclass

from exon_spark.functions.region import parse_region

_INDEX_CACHE_SIZE = 32


def _cached_index(parse):
    """Memoize an index parser on (absolute path, size, mtime) in a bounded
    LRU. A rewritten index changes its size or mtime and is parsed again;
    remote paths (object-store schemes) are parsed on every call, since
    their stat would cost a round trip of its own."""
    cached = functools.lru_cache(maxsize=_INDEX_CACHE_SIZE)(
        lambda path, _size, _mtime_ns: parse(path)
    )

    @functools.wraps(parse)
    def read(path: str):
        from exon_spark.sources.fs import scheme_of

        if scheme_of(path) is not None:
            return parse(path)
        try:
            st = os.stat(path)
        except OSError:
            return parse(path)  # let the parser raise its own error
        return cached(os.path.abspath(path), st.st_size, st.st_mtime_ns)

    read.cache_clear = cached.cache_clear
    return read


@dataclass(frozen=True)
class FaiRecord:
    name: str
    length: int
    offset: int  # byte offset of first base
    linebases: int
    linewidth: int  # linebases + line terminator bytes


def read_fai(fasta_path: str) -> dict[str, FaiRecord]:
    import io

    from exon_spark.sources.fs import fs_open

    recs: dict[str, FaiRecord] = {}
    with io.TextIOWrapper(fs_open(fasta_path + ".fai"), encoding="utf-8") as fh:
        for line in fh:
            parts = line.rstrip("\n").split("\t")
            if len(parts) < 5:
                continue
            name, length, offset, linebases, linewidth = parts[:5]
            recs[name] = FaiRecord(
                name, int(length), int(offset), int(linebases), int(linewidth)
            )
    return recs


def fai_byte_ranges(
    fasta_path: str, regions: list[str]
) -> list[tuple[str, int, int]]:
    """(region_name, byte_start, byte_end) per region; positions are 1-based
    inclusive (fai.rs:29-47 arithmetic). The byte range still contains line
    terminators — the reader strips newlines."""
    index = read_fai(fasta_path)
    out: list[tuple[str, int, int]] = []
    for region in regions:
        region = region.strip()
        name, lo, hi = parse_region(region)
        rec = index.get(name)
        if rec is None:
            continue
        lo = max(lo, 1)
        hi = min(hi, rec.length)
        if hi < lo:
            continue

        def pos_to_byte(pos0: int) -> int:  # pos0: 0-based base index
            return rec.offset + (pos0 // rec.linebases) * rec.linewidth + (
                pos0 % rec.linebases
            )

        start_b = pos_to_byte(lo - 1)
        end_b = pos_to_byte(hi - 1) + 1
        # label is the region string as given (the reference's indexed scan
        # surfaces 'a:3-4' as the id, fasta-indexed-scan-tests.slt)
        out.append((region, start_b, end_b))
    return out


# --------------------------------------------------------------------- tabix

@dataclass(frozen=True)
class TabixIndex:
    names: list[str]
    # per reference sequence: {bin: [(chunk_begin_voffset, chunk_end_voffset)]}
    bins: list[dict[int, list[tuple[int, int]]]]
    # linear index: per 16kb window, smallest voffset
    linear: list[list[int]]
    col_seq: int
    col_begin: int
    col_end: int
    zero_based: bool
    skip: int
    meta_char: str


@_cached_index
def read_tabix(path: str) -> TabixIndex:
    """Parse a .tbi file (SAMtools tabix spec §'The Tabix index file
    format'). The file is BGZF (valid gzip)."""
    from exon_spark.sources.fs import fs_open

    with gzip.GzipFile(fileobj=fs_open(path)) as fh:
        data = fh.read()
    off = 0

    def u32() -> int:
        nonlocal off
        (v,) = struct.unpack_from("<I", data, off)
        off += 4
        return v

    def i32() -> int:
        nonlocal off
        (v,) = struct.unpack_from("<i", data, off)
        off += 4
        return v

    def u64() -> int:
        nonlocal off
        (v,) = struct.unpack_from("<Q", data, off)
        off += 8
        return v

    magic = data[:4]
    off = 4
    if magic != b"TBI\x01":
        raise ValueError(f"{path}: not a tabix index")
    n_ref = i32()
    fmt = i32()
    col_seq, col_begin, col_end = i32(), i32(), i32()
    meta = i32()
    skip = i32()
    l_nm = i32()
    names_blob = data[off : off + l_nm]
    off += l_nm
    names = [n.decode() for n in names_blob.split(b"\x00") if n]
    bins_per_ref: list[dict[int, list[tuple[int, int]]]] = []
    linear_per_ref: list[list[int]] = []
    for _ in range(n_ref):
        n_bin = i32()
        bins: dict[int, list[tuple[int, int]]] = {}
        for _ in range(n_bin):
            bin_id = u32()
            n_chunk = i32()
            chunks = [(u64(), u64()) for _ in range(n_chunk)]
            # Bin 37450 is the metadata pseudo-bin (tabix spec): its two
            # "chunks" are (off_beg,off_end) and (n_mapped,n_unmapped),
            # not real virtual offsets — keeping it would defeat pruning
            # and feed garbage offsets into the reader (same handling as
            # _BAI_PSEUDO_BIN below).
            if bin_id != _BAI_PSEUDO_BIN:
                bins[bin_id] = chunks
        n_intv = i32()
        linear_per_ref.append([u64() for _ in range(n_intv)])
        bins_per_ref.append(bins)
    return TabixIndex(
        names=names,
        bins=bins_per_ref,
        linear=linear_per_ref,
        col_seq=col_seq,
        col_begin=col_begin,
        col_end=col_end,
        zero_based=bool(fmt & 0x10000),
        skip=skip,
        meta_char=chr(meta) if meta else "#",
    )


def reg2bin(beg: int, end: int) -> int:
    """UCSC bin for a 0-based half-open interval (SAM spec §5.3)."""
    end -= 1
    if beg >> 14 == end >> 14:
        return ((1 << 15) - 1) // 7 + (beg >> 14)
    if beg >> 17 == end >> 17:
        return ((1 << 12) - 1) // 7 + (beg >> 17)
    if beg >> 20 == end >> 20:
        return ((1 << 9) - 1) // 7 + (beg >> 20)
    if beg >> 23 == end >> 23:
        return ((1 << 6) - 1) // 7 + (beg >> 23)
    if beg >> 26 == end >> 26:
        return ((1 << 3) - 1) // 7 + (beg >> 26)
    return 0


def write_tbi(
    out_path: str,
    names: list[str],
    bins: list[dict[int, list]],
    linear: list[dict[int, int]],
    preset: tuple[int, int, int, int, int, int],
) -> str:
    """Serialize a .tbi from builder-internal structures: per-ref
    ``bins[rid] = {bin: [(voff_start, voff_end), ...]}`` and sparse linear
    index ``linear[rid] = {window: min_voff}``. ``preset`` is the 6-int
    tabix header (format, col_seq, col_begin, col_end, meta, skip)."""
    import struct as _s

    from exon_spark.sources.bgzf import BGZFWriter

    payload = bytearray()
    payload += b"TBI\x01"
    payload += _s.pack("<i", len(names))
    payload += _s.pack("<6i", *preset)
    names_blob = b"".join(n.encode() + b"\x00" for n in names)
    payload += _s.pack("<i", len(names_blob)) + names_blob
    for rid in range(len(names)):
        payload += _s.pack("<i", len(bins[rid]))
        for bin_id in sorted(bins[rid]):
            chunks = bins[rid][bin_id]
            payload += _s.pack("<I", bin_id) + _s.pack("<i", len(chunks))
            for cb, ce in chunks:
                payload += _s.pack("<QQ", cb, ce)
        if linear[rid]:
            n_intv = max(linear[rid]) + 1
            ioffs = []
            prev = 0
            for win in range(n_intv):
                if win in linear[rid]:
                    prev = linear[rid][win]
                ioffs.append(prev)
        else:
            n_intv, ioffs = 0, []
        payload += _s.pack("<i", n_intv)
        for off in ioffs:
            payload += _s.pack("<Q", off)
    with BGZFWriter(out_path) as out:
        out.write(bytes(payload))
    return out_path


def write_bai(
    out_path: str,
    n_ref: int,
    bins: list[dict[int, list]],
    linear: list[dict[int, int]],
) -> str:
    """Serialize a .bai (plain binary) from the same builder-internal
    structures as :func:`write_tbi`."""
    out = bytearray()
    out += b"BAI\x01"
    out += struct.pack("<i", n_ref)
    for rid in range(n_ref):
        out += struct.pack("<i", len(bins[rid]))
        for bin_id in sorted(bins[rid]):
            chunks = bins[rid][bin_id]
            out += struct.pack("<Ii", bin_id, len(chunks))
            for cb, ce in chunks:
                out += struct.pack("<QQ", cb, ce)
        if linear[rid]:
            n_intv = max(linear[rid]) + 1
            prev = 0
            ioffs = []
            for win in range(n_intv):
                if win in linear[rid]:
                    prev = linear[rid][win]
                ioffs.append(prev)
        else:
            n_intv, ioffs = 0, []
        out += struct.pack("<i", n_intv)
        for off_ in ioffs:
            out += struct.pack("<Q", off_)
    with open(out_path, "wb") as fh:
        fh.write(bytes(out))
    return out_path


def build_tabix_vcf(vcf_gz_path: str, out_path: str | None = None) -> str:
    """Build a .tbi tabix index for a BGZF-compressed VCF — pure Python (no
    external tabix needed; the reference shells out to pre-built indexes).
    VCF preset: seq col 1, begin col 2, 1-based; end = pos + len(ref) - 1.
    """
    from exon_spark.sources.bgzf import BGZFReader

    out_path = out_path or vcf_gz_path + ".tbi"
    names: list[str] = []
    name_idx: dict[str, int] = {}
    bins: list[dict[int, list[list[int]]]] = []
    linear: list[dict[int, int]] = []

    with BGZFReader(vcf_gz_path) as bg:
        for line, v_start, v_end in bg.lines_with_voffsets():
            if not line or line.startswith("#"):
                continue
            f = line.split("\t", 4)
            chrom, pos, ref = f[0], int(f[1]), f[3] if len(f) > 3 else "N"
            beg0 = pos - 1
            end0 = beg0 + max(len(ref), 1)
            if chrom not in name_idx:
                name_idx[chrom] = len(names)
                names.append(chrom)
                bins.append({})
                linear.append({})
            rid = name_idx[chrom]
            b = reg2bin(beg0, end0)
            chunk_list = bins[rid].setdefault(b, [])
            if chunk_list and chunk_list[-1][1] == v_start:
                chunk_list[-1][1] = v_end  # extend contiguous chunk
            else:
                chunk_list.append([v_start, v_end])
            for win in range(beg0 >> 14, ((end0 - 1) >> 14) + 1):
                cur = linear[rid].get(win)
                if cur is None or v_start < cur:
                    linear[rid][win] = v_start

    return write_tbi(out_path, names, bins, linear, (2, 1, 2, 0, ord("#"), 0))


def build_tabix_gff(gff_gz_path: str, out_path: str | None = None) -> str:
    """Build a .tbi for a coordinate-sorted BGZF GFF/GTF (tabix GFF preset:
    seq col 1, begin col 4, end col 5, 1-based, '#' meta)."""
    from exon_spark.sources.bgzf import BGZFReader

    out_path = out_path or gff_gz_path + ".tbi"
    names: list[str] = []
    name_idx: dict[str, int] = {}
    bins: list[dict[int, list[list[int]]]] = []
    linear: list[dict[int, int]] = []

    with BGZFReader(gff_gz_path) as bg:
        for line, v_start, v_end in bg.lines_with_voffsets():
            if not line or line.startswith("#"):
                continue
            f = line.split("\t", 5)
            if len(f) < 5:
                continue
            chrom, beg0, end0 = f[0], int(f[3]) - 1, int(f[4])
            if chrom not in name_idx:
                name_idx[chrom] = len(names)
                names.append(chrom)
                bins.append({})
                linear.append({})
            rid = name_idx[chrom]
            b = reg2bin(beg0, end0)
            chunk_list = bins[rid].setdefault(b, [])
            if chunk_list and chunk_list[-1][1] == v_start:
                chunk_list[-1][1] = v_end
            else:
                chunk_list.append([v_start, v_end])
            for win in range(beg0 >> 14, ((end0 - 1) >> 14) + 1):
                cur = linear[rid].get(win)
                if cur is None or v_start < cur:
                    linear[rid][win] = v_start

    return write_tbi(out_path, names, bins, linear, (0, 1, 4, 5, ord("#"), 0))


def build_csi_vcf(
    vcf_gz_path: str,
    out_path: str | None = None,
    min_shift: int = 14,
    depth: int = 5,
) -> str:
    """Build a .csi (CSI v1) index for a BGZF-compressed VCF — the htslib
    `tabix --csi` analogue, with the tabix-style aux payload carrying the
    reference names. With (min_shift=14, depth=5) the binning matches the
    classic tabix scheme."""
    import struct as _s

    from exon_spark.sources.bgzf import BGZFReader, BGZFWriter

    out_path = out_path or vcf_gz_path + ".csi"
    names: list[str] = []
    name_idx: dict[str, int] = {}
    bins: list[dict[int, list[list[int]]]] = []
    loffs: list[dict[int, int]] = []

    def reg2bin_g(beg: int, end: int) -> int:
        # hts-specs CSI reg2bin over half-open [beg, end)
        end -= 1
        s = min_shift
        t = ((1 << (3 * depth)) - 1) // 7
        level = depth
        while level > 0:
            if beg >> s == end >> s:
                return t + (beg >> s)
            level -= 1
            s += 3
            t -= 1 << (3 * level)
        return 0

    with BGZFReader(vcf_gz_path) as bg:
        for line, v_start, v_end in bg.lines_with_voffsets():
            if not line or line.startswith("#"):
                continue
            f = line.split("\t", 4)
            chrom, pos, ref = f[0], int(f[1]), f[3] if len(f) > 3 else "N"
            beg0 = pos - 1
            end0 = beg0 + max(len(ref), 1)
            if chrom not in name_idx:
                name_idx[chrom] = len(names)
                names.append(chrom)
                bins.append({})
                loffs.append({})
            rid = name_idx[chrom]
            b = reg2bin_g(beg0, end0)
            chunk_list = bins[rid].setdefault(b, [])
            if chunk_list and chunk_list[-1][1] == v_start:
                chunk_list[-1][1] = v_end
            else:
                chunk_list.append([v_start, v_end])
            if b not in loffs[rid] or v_start < loffs[rid][b]:
                loffs[rid][b] = v_start

    names_blob = b"".join(n.encode() + b"\x00" for n in names)
    aux = _s.pack("<7i", 2, 1, 2, 0, ord("#"), 0, len(names_blob)) + names_blob
    payload = bytearray()
    payload += b"CSI\x01"
    payload += _s.pack("<iii", min_shift, depth, len(aux)) + aux
    payload += _s.pack("<i", len(names))
    for rid in range(len(names)):
        payload += _s.pack("<i", len(bins[rid]))
        for bin_id in sorted(bins[rid]):
            chunks = bins[rid][bin_id]
            payload += _s.pack("<IQi", bin_id, loffs[rid][bin_id], len(chunks))
            for cb, ce in chunks:
                payload += _s.pack("<QQ", cb, ce)
    with BGZFWriter(out_path) as out:
        out.write(bytes(payload))
    return out_path


def _reg2bins(beg: int, end: int) -> list[int]:
    """UCSC binning scheme bins overlapping [beg, end) (0-based)."""
    end -= 1
    bins = [0]
    bins += list(range(1 + (beg >> 26), 2 + (end >> 26)))
    bins += list(range(9 + (beg >> 23), 10 + (end >> 23)))
    bins += list(range(73 + (beg >> 20), 74 + (end >> 20)))
    bins += list(range(585 + (beg >> 17), 586 + (end >> 17)))
    bins += list(range(4681 + (beg >> 14), 4682 + (end >> 14)))
    return bins


def tabix_chunks(
    index: TabixIndex, region: str
) -> list[tuple[int, int]] | None:
    """BGZF virtual-offset chunks overlapping the region, merged and
    filtered by the linear index (indexed_bgzf_file.rs:52-112 semantics).
    Returns None when the reference name is absent (no rows)."""
    name, lo, hi = parse_region(region)
    if name not in index.names:
        return None
    rid = index.names.index(name)
    beg0 = max(lo - 1, 0)
    # The tabix/BAI binning scheme covers 2^29 bp; clamp so _reg2bins never
    # sweeps past the valid bin range for open-ended / whole-chrom regions.
    end0 = min(hi, 1 << 29)
    min_voff = 0
    lin = index.linear[rid]
    win = beg0 >> 14
    if lin:
        min_voff = lin[min(win, len(lin) - 1)]
    chunks: list[tuple[int, int]] = []
    for b in _reg2bins(beg0, end0):
        for cb, ce in index.bins[rid].get(b, ()):
            if ce > min_voff:
                chunks.append((max(cb, min_voff), ce))
    chunks.sort()
    merged: list[tuple[int, int]] = []
    for cb, ce in chunks:
        if merged and cb <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], ce))
        else:
            merged.append((cb, ce))
    return merged


# ----------------------------------------------------------------------- bai

@dataclass(frozen=True)
class BaiIndex:
    # per reference (BAM header order): {bin: [(chunk_beg, chunk_end)]}
    bins: list[dict[int, list[tuple[int, int]]]]
    linear: list[list[int]]


_BAI_PSEUDO_BIN = 37450


@_cached_index
def read_bai(path: str) -> BaiIndex:
    """Parse a .bai index (plain binary, SAM spec §5.2)."""
    from exon_spark.sources.fs import fs_open

    with fs_open(path) as fh:
        data = fh.read()
    if data[:4] != b"BAI\x01":
        raise ValueError(f"{path}: not a BAI index")
    off = 4
    (n_ref,) = struct.unpack_from("<i", data, off)
    off += 4
    bins_per_ref: list[dict[int, list[tuple[int, int]]]] = []
    linear_per_ref: list[list[int]] = []
    for _ in range(n_ref):
        (n_bin,) = struct.unpack_from("<i", data, off)
        off += 4
        bins: dict[int, list[tuple[int, int]]] = {}
        for _ in range(n_bin):
            bin_id, n_chunk = struct.unpack_from("<Ii", data, off)
            off += 8
            chunks = []
            for _ in range(n_chunk):
                cb, ce = struct.unpack_from("<QQ", data, off)
                off += 16
                chunks.append((cb, ce))
            if bin_id != _BAI_PSEUDO_BIN:
                bins[bin_id] = chunks
        (n_intv,) = struct.unpack_from("<i", data, off)
        off += 4
        lin = list(struct.unpack_from(f"<{n_intv}Q", data, off))
        off += 8 * n_intv
        bins_per_ref.append(bins)
        linear_per_ref.append(lin)
    return BaiIndex(bins=bins_per_ref, linear=linear_per_ref)


def bai_chunks(index: BaiIndex, ref_id: int, region: str) -> list[tuple[int, int]]:
    """Merged BGZF chunks overlapping the region for the given reference id
    (indexed_bgzf_file.rs:88-108 semantics)."""
    _, lo, hi = parse_region(region)
    beg0 = max(lo - 1, 0)
    end0 = min(hi, 1 << 29)  # binning scheme coordinate space is 2^29
    lin = index.linear[ref_id]
    min_voff = 0
    if lin:
        win = beg0 >> 14
        min_voff = lin[min(win, len(lin) - 1)]
    chunks: list[tuple[int, int]] = []
    for b in _reg2bins(beg0, end0):
        for cb, ce in index.bins[ref_id].get(b, ()):
            if ce > min_voff:
                chunks.append((max(cb, min_voff), ce))
    chunks.sort()
    merged: list[tuple[int, int]] = []
    for cb, ce in chunks:
        if merged and cb <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], ce))
        else:
            merged.append((cb, ce))
    return merged


def adaptive_target_bytes(
    total_bytes: int,
    parallelism: int,
    floor: int = 256 << 10,
    ceil: int = 8 << 20,
) -> int:
    """Pick a per-partition compressed-byte target that (a) fans a small
    region query out across the cluster (aim ~2 partitions per core so a
    bench-sized scan isn't one task) while (b) capping partition count on
    huge inputs at `ceil` bytes each — at 100 TB the cap, not the
    parallelism, sets the target, keeping partitions executor-memory-sized
    and the partition count linear in data size."""
    if parallelism <= 0:
        return ceil
    return max(floor, min(ceil, total_bytes // (2 * parallelism) or floor))


def split_chunks_at_offsets(
    chunks: list[tuple[int, int]],
    voffs,
    target_bytes: int,
) -> list[tuple[int, int]]:
    """Subdivide merged chunks larger than ``target_bytes`` (compressed) at
    record-aligned virtual offsets — the linear index's per-16kb-window
    voffsets, which are guaranteed record starts.

    ``split_chunk_groups`` alone can only *group* chunks, never split one:
    a whole-chromosome region over a contiguous file lands in a handful of
    ~hundred-MB merged chunks and the scan runs on that many tasks no
    matter the cluster size (measured: chr1 over a 2.5 GB VCF planned 9
    partitions of 148 MB each). Cutting at linear-index offsets restores
    ~target-sized partitions with no change to the bytes read."""
    import bisect

    voffs = sorted(set(voffs))
    out: list[tuple[int, int]] = []
    for cb, ce in chunks:
        cur = cb
        while (ce >> 16) - (cur >> 16) > target_bytes:
            goal = ((cur >> 16) + target_bytes) << 16
            j = bisect.bisect_left(voffs, goal)
            if j >= len(voffs) or voffs[j] >= ce or voffs[j] <= cur:
                break
            out.append((cur, voffs[j]))
            cur = voffs[j]
        out.append((cur, ce))
    return out


def full_scan_ranges(
    linear: list[list[int]],
    target_bytes: int,
) -> list[tuple[int, int | None]]:
    """Record-aligned (start_voff, end_voff|None) ranges covering a whole
    tabix-indexed BGZF file, ~target_bytes compressed each — the full-scan
    analogue of ``split_chunks_at_offsets`` (a bgzf stream is otherwise one
    unsplittable gzip partition). The final range is open-ended (None =
    read to EOF)."""
    voffs = sorted({v for lin in linear for v in lin if v > 0})
    if not voffs:
        return []
    splits = [voffs[0]]
    for v in voffs[1:]:
        if (v >> 16) - (splits[-1] >> 16) >= target_bytes:
            splits.append(v)
    return list(zip(splits, splits[1:] + [None]))


def split_chunk_groups(
    chunks: list[tuple[int, int]], target_bytes: int = 8 << 20
) -> list[list[tuple[int, int]]]:
    """Split a merged chunk list into byte-balanced groups so one indexed
    region query fans out across executors instead of running in a single
    task (a whole-chromosome region over a 100 GB file must not be one
    partition). Group size is measured in *compressed* bytes (the file-offset
    half of the BGZF virtual offset, voff >> 16) — the unit that drives I/O.
    """
    groups: list[list[tuple[int, int]]] = []
    cur: list[tuple[int, int]] = []
    cur_bytes = 0
    for cb, ce in chunks:
        cur.append((cb, ce))
        cur_bytes += max(0, (ce >> 16) - (cb >> 16))
        if cur_bytes >= target_bytes:
            groups.append(cur)
            cur, cur_bytes = [], 0
    if cur:
        groups.append(cur)
    return groups


def build_bai(bam_path: str, out_path: str | None = None) -> str:
    """Build a .bai index for a BAM file — pure Python (htslib-free)."""
    from exon_spark.sources.bam import iter_bam_records, read_bam_header
    from exon_spark.sources.bgzf import BGZFReader

    out_path = out_path or bam_path + ".bai"
    with BGZFReader(bam_path) as bg:
        stream = bg.stream_from(0)
        refs = read_bam_header(stream)
        bins: list[dict[int, list[list[int]]]] = [dict() for _ in refs]
        linear: list[dict[int, int]] = [dict() for _ in refs]
        ref_ids = {name: i for i, (name, _len) in enumerate(refs)}
        for rec, v_start, v_end in iter_bam_records(stream, refs):
            if rec["reference"] is None or rec["start"] is None:
                continue
            rid = ref_ids[rec["reference"]]
            beg0 = rec["start"] - 1
            end0 = rec["end"] if rec["end"] is not None else rec["start"]
            b = reg2bin(beg0, end0)
            chunk_list = bins[rid].setdefault(b, [])
            if chunk_list and chunk_list[-1][1] == v_start:
                chunk_list[-1][1] = v_end
            else:
                chunk_list.append([v_start, v_end])
            for win in range(beg0 >> 14, ((end0 - 1) >> 14) + 1):
                cur = linear[rid].get(win)
                if cur is None or v_start < cur:
                    linear[rid][win] = v_start

    return write_bai(out_path, len(refs), bins, linear)


# ----------------------------------------------------------------------- csi

@dataclass(frozen=True)
class CsiIndex:
    """CSI v1 index (hts-specs CSIv1.pdf) — the generalized binning index
    BCF ships with (reference: indexed BCF uses noodles-csi; the bin scheme
    is UCSC binning parameterized by (min_shift, depth))."""

    min_shift: int
    depth: int
    # per reference id: {bin: [(chunk_beg_voffset, chunk_end_voffset)]}
    bins: list[dict[int, list[tuple[int, int]]]]
    # per reference id: {bin: loffset}
    loffsets: list[dict[int, int]]
    # reference names from the tabix-style aux payload (htslib writes it
    # for `tabix --csi` indexes of VCF/GFF; empty for BCF/BAM .csi, whose
    # names come from the data file's own header)
    names: tuple[str, ...] = ()


@_cached_index
def read_csi(path: str) -> CsiIndex:
    """Parse a .csi file (BGZF-compressed, magic CSI\\x01)."""
    from exon_spark.sources.fs import fs_open

    with gzip.GzipFile(fileobj=fs_open(path)) as fh:
        data = fh.read()
    if data[:4] != b"CSI\x01":
        raise ValueError(f"{path}: not a CSI index")
    off = 4
    min_shift, depth, l_aux = struct.unpack_from("<iii", data, off)
    off += 12
    names: tuple[str, ...] = ()
    if l_aux >= 32:
        # tabix aux layout: 7 int32 (format, col_seq, col_beg, col_end,
        # meta, skip, l_nm) + names blob
        (l_nm,) = struct.unpack_from("<i", data, off + 24)
        if 0 < l_nm <= l_aux - 28:
            blob = data[off + 28 : off + 28 + l_nm]
            names = tuple(n.decode() for n in blob.split(b"\x00") if n)
    off += l_aux
    (n_ref,) = struct.unpack_from("<i", data, off)
    off += 4
    # metadata pseudo-bin (same role as tabix/BAI bin 37450, generalized):
    # one past the largest real bin for this (depth) — skip its fake chunks
    pseudo_bin = ((1 << (3 * (depth + 1))) - 1) // 7 + 1
    bins_per_ref: list[dict[int, list[tuple[int, int]]]] = []
    loff_per_ref: list[dict[int, int]] = []
    for _ in range(n_ref):
        (n_bin,) = struct.unpack_from("<i", data, off)
        off += 4
        bins: dict[int, list[tuple[int, int]]] = {}
        loffs: dict[int, int] = {}
        for _ in range(n_bin):
            bin_id, loffset, n_chunk = struct.unpack_from("<IQi", data, off)
            off += 16
            chunks = []
            for _ in range(n_chunk):
                cb, ce = struct.unpack_from("<QQ", data, off)
                off += 16
                chunks.append((cb, ce))
            if bin_id < pseudo_bin:
                bins[bin_id] = chunks
                loffs[bin_id] = loffset
        bins_per_ref.append(bins)
        loff_per_ref.append(loffs)
    return CsiIndex(min_shift, depth, bins_per_ref, loff_per_ref, names)


def _csi_reg2bins(beg: int, end: int, min_shift: int, depth: int) -> list[int]:
    """Bins overlapping 0-based half-open [beg, end) for a generalized
    (min_shift, depth) binning scheme."""
    bins = []
    end -= 1
    level_offset = 0
    for level in range(depth + 1):
        shift = min_shift + (depth - level) * 3
        bins += range(level_offset + (beg >> shift), level_offset + (end >> shift) + 1)
        level_offset += 1 << (level * 3)
    return bins


def csi_chunks(
    index: CsiIndex, ref_id: int, lo: int, hi: int
) -> list[tuple[int, int]]:
    """Merged BGZF virtual-offset chunks overlapping 1-based inclusive
    [lo, hi] on reference ref_id."""
    if ref_id < 0 or ref_id >= len(index.bins):
        return []
    beg0 = max(lo - 1, 0)
    max_pos = 1 << (index.min_shift + index.depth * 3)
    end0 = min(hi, max_pos) if hi < 2**62 else max_pos
    chunks: list[tuple[int, int]] = []
    for b in _csi_reg2bins(beg0, end0, index.min_shift, index.depth):
        chunks.extend(index.bins[ref_id].get(b, ()))
    chunks.sort()
    merged: list[tuple[int, int]] = []
    for cb, ce in chunks:
        if merged and cb <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], ce))
        else:
            merged.append((cb, ce))
    return merged
