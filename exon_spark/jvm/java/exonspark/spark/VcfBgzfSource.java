package exonspark.spark;

import java.io.BufferedInputStream;
import java.io.Closeable;
import java.io.EOFException;
import java.io.FileInputStream;
import java.io.IOException;
import java.io.Serializable;
import java.nio.charset.StandardCharsets;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.List;
import java.util.Map;
import java.util.Set;
import java.util.zip.DataFormatException;
import java.util.zip.Inflater;

import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow;
import org.apache.spark.sql.catalyst.util.GenericArrayData;
import org.apache.spark.sql.connector.catalog.SupportsRead;
import org.apache.spark.sql.connector.catalog.Table;
import org.apache.spark.sql.connector.catalog.TableCapability;
import org.apache.spark.sql.connector.catalog.TableProvider;
import org.apache.spark.sql.connector.expressions.Transform;
import org.apache.spark.sql.connector.read.Batch;
import org.apache.spark.sql.connector.read.InputPartition;
import org.apache.spark.sql.connector.read.PartitionReader;
import org.apache.spark.sql.connector.read.PartitionReaderFactory;
import org.apache.spark.sql.connector.read.Scan;
import org.apache.spark.sql.connector.read.ScanBuilder;
import org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;
import org.apache.spark.unsafe.types.UTF8String;

/**
 * DataSourceV2 batch source for tabix-indexed, bgzip-compressed VCF region
 * scans. The Python driver plans record-exact BGZF virtual-offset ranges
 * from the tabix index (chunk begins/ends re-cut at linear-index record
 * offsets) and passes them as the "partitions" option; each partition
 * reader seeks its compressed ranges, inflates the blocks, and parses the
 * projected leading VCF fields straight out of the decompressed bytes into
 * InternalRows. Compared to the codec + spark.read.text route
 * (exon_spark.sources.jvm_fast.read_vcf_region_jvm) this skips the Hadoop
 * LineReader Text copy, the full-line UTF8String row, and the per-field
 * substring scans — the remaining cost is the inflate itself plus one
 * small copy per projected field.
 *
 * Semantics mirror the Python VCF DataSource exactly (sources/vcf.py
 * BASE_SCHEMA, leading 8 fields; reference schema exon/exon-core/src/
 * datasources/vcf/table_provider.rs): '.'/'' => null for id/alt/qual/
 * filter/info, id/filter split on ';', alt on ',', pos bigint (non-numeric
 * => null, as try_cast), region filter = chrom equality + 1-based
 * inclusive pos bounds. "formats" is the raw FORMAT + sample text (every
 * field after INFO, tab-joined as in the file), null when the line has no
 * ninth field.
 *
 * Options (all lowercase):
 *   path        local filesystem path of the .bgz/.gz BGZF VCF
 *   partitions  "beg:end;beg:end|..." — '|'-separated partitions, each a
 *               ';'-separated list of BGZF virtual-offset [beg,end) ranges.
 *               A partition may carry a "ridx@" prefix binding it to ONE
 *               region of the regions option; its reader then filters by
 *               that region alone. This reproduces the per-region
 *               partition semantics of the reference and the Python
 *               DataSource (overlapping regions each emit their own
 *               matches — duplicates included); without the prefix the
 *               partition filters by the OR of all regions.
 *   regions     ','-separated "chrom:lo:hi" (1-based inclusive; parsed
 *               from the right so chrom names may contain ':')
 */
public class VcfBgzfSource implements TableProvider {

  static final StructType FULL_SCHEMA =
      new StructType()
          .add("chrom", DataTypes.StringType, true)
          .add("pos", DataTypes.LongType, true)
          .add("id", DataTypes.createArrayType(DataTypes.StringType, true), true)
          .add("ref", DataTypes.StringType, true)
          .add("alt", DataTypes.createArrayType(DataTypes.StringType, true), true)
          .add("qual", DataTypes.FloatType, true)
          .add("filter", DataTypes.createArrayType(DataTypes.StringType, true), true)
          .add("info", DataTypes.StringType, true)
          .add("formats", DataTypes.StringType, true);

  @Override
  public StructType inferSchema(CaseInsensitiveStringMap options) {
    return FULL_SCHEMA;
  }

  @Override
  public Table getTable(
      StructType schema, Transform[] partitioning, Map<String, String> properties) {
    return new VcfTable();
  }

  @Override
  public boolean supportsExternalMetadata() {
    return false;
  }

  static final class VcfTable implements SupportsRead {
    @Override
    public String name() {
      return "vcf-bgzf";
    }

    @Override
    public StructType schema() {
      return FULL_SCHEMA;
    }

    @Override
    public Set<TableCapability> capabilities() {
      return Set.of(TableCapability.BATCH_READ);
    }

    @Override
    public ScanBuilder newScanBuilder(CaseInsensitiveStringMap options) {
      return new VcfScanBuilder(options);
    }
  }

  static final class VcfScanBuilder
      implements ScanBuilder, SupportsPushDownRequiredColumns {
    private final CaseInsensitiveStringMap options;
    private StructType required = FULL_SCHEMA;

    VcfScanBuilder(CaseInsensitiveStringMap options) {
      this.options = options;
    }

    @Override
    public void pruneColumns(StructType requiredSchema) {
      this.required = requiredSchema;
    }

    @Override
    public Scan build() {
      return new VcfScan(
          options.get("path"),
          options.getOrDefault("partitions", ""),
          options.getOrDefault("regions", ""),
          required,
          !"false".equalsIgnoreCase(options.getOrDefault("columnar", "true")));
    }
  }

  static final class VcfScan implements Scan, Batch {
    private final String path;
    private final String partitionSpec;
    private final String regionSpec;
    private final StructType required;
    private final boolean columnar;

    VcfScan(
        String path,
        String partitionSpec,
        String regionSpec,
        StructType required,
        boolean columnar) {
      this.path = path;
      this.partitionSpec = partitionSpec;
      this.regionSpec = regionSpec;
      this.required = required;
      this.columnar = columnar;
    }

    @Override
    public StructType readSchema() {
      return required;
    }

    @Override
    public String description() {
      return "VcfBgzfScan " + path;
    }

    @Override
    public Batch toBatch() {
      return this;
    }

    @Override
    public InputPartition[] planInputPartitions() {
      if (partitionSpec.isEmpty()) {
        return new InputPartition[0];
      }
      String[] parts = partitionSpec.split("\\|");
      InputPartition[] out = new InputPartition[parts.length];
      for (int p = 0; p < parts.length; p++) {
        String spec = parts[p];
        int regionIdx = -1;
        int at = spec.indexOf('@');
        if (at >= 0) {
          regionIdx = Integer.parseInt(spec.substring(0, at));
          spec = spec.substring(at + 1);
        }
        String[] ranges = spec.split(";");
        long[] begs = new long[ranges.length];
        long[] ends = new long[ranges.length];
        for (int i = 0; i < ranges.length; i++) {
          int c = ranges[i].indexOf(':');
          begs[i] = Long.parseLong(ranges[i].substring(0, c));
          ends[i] = Long.parseLong(ranges[i].substring(c + 1));
        }
        out[p] = new VcfPartition(begs, ends, regionIdx);
      }
      return out;
    }

    @Override
    public PartitionReaderFactory createReaderFactory() {
      String[] cols = new String[required.fields().length];
      for (int i = 0; i < cols.length; i++) {
        cols[i] = required.fields()[i].name();
      }
      return new VcfReaderFactory(path, cols, regionSpec, columnar);
    }
  }

  static final class VcfPartition implements InputPartition {
    final long[] begs;
    final long[] ends;
    final int regionIdx; // -1 = filter by all regions OR'd

    VcfPartition(long[] begs, long[] ends, int regionIdx) {
      this.begs = begs;
      this.ends = ends;
      this.regionIdx = regionIdx;
    }
  }

  static final class VcfReaderFactory implements PartitionReaderFactory, Serializable {
    private final String path;
    private final String[] cols;
    private final String regionSpec;
    private final boolean columnar;

    VcfReaderFactory(String path, String[] cols, String regionSpec, boolean columnar) {
      this.path = path;
      this.cols = cols;
      this.regionSpec = regionSpec;
      this.columnar = columnar;
    }

    @Override
    public PartitionReader<InternalRow> createReader(InputPartition partition) {
      try {
        return new VcfPartitionReader(path, cols, regionSpec, (VcfPartition) partition);
      } catch (IOException e) {
        throw new RuntimeException("vcf-bgzf: cannot open " + path, e);
      }
    }

    @Override
    public boolean supportColumnarReads(InputPartition partition) {
      return columnar;
    }

    @Override
    public PartitionReader<org.apache.spark.sql.vectorized.ColumnarBatch>
        createColumnarReader(InputPartition partition) {
      try {
        return new VcfColumnarReader(
            new VcfPartitionReader(path, cols, regionSpec, (VcfPartition) partition),
            cols);
      } catch (IOException e) {
        throw new RuntimeException("vcf-bgzf: cannot open " + path, e);
      }
    }
  }

  // -------------------------------------------------------------- reader

  private static final int MAX_BLOCK = 1 << 16;

  static final class VcfPartitionReader implements PartitionReader<InternalRow> {
    // field indices in the VCF line for each projected column
    private final int[] fieldOf;
    // 0 str, 1 pos-long, 2 split';', 3 split',', 4 float, 5 dotnull-str,
    // 6 rest-of-line (formats)
    private final int[] colKind;
    private final int maxField;

    private final byte[][] regionChroms;
    private final long[] regionLo;
    private final long[] regionHi;
    private final boolean needPos;

    private final BgzfRanges in;
    private InternalRow current;

    // chrom of region scans is near-constant: cache the last interned value
    private byte[] lastChrom = new byte[0];
    private UTF8String lastChromU = UTF8String.EMPTY_UTF8;

    private byte[] lbuf = new byte[1 << 12];
    private int llen;

    private final int[] tabs; // positions of line tabs (end of field i)
    private int nTabs; // tabs found on the current line, capped at maxField + 1

    VcfPartitionReader(
        String path, String[] cols, String regionSpec, VcfPartition part)
        throws IOException {
      String[] names = {
        "chrom", "pos", "id", "ref", "alt", "qual", "filter", "info", "formats"
      };
      int[] kinds = {0, 1, 2, 0, 3, 4, 2, 5, 6};
      fieldOf = new int[cols.length];
      colKind = new int[cols.length];
      int mx = 1; // chrom + pos always parsed for the region filter
      for (int i = 0; i < cols.length; i++) {
        int f = Arrays.asList(names).indexOf(cols[i].toLowerCase());
        if (f < 0) {
          throw new IOException("vcf-bgzf: unsupported column " + cols[i]);
        }
        fieldOf[i] = f;
        colKind[i] = kinds[f];
        mx = Math.max(mx, f);
      }
      maxField = mx;
      tabs = new int[maxField + 1];

      if (regionSpec.isEmpty()) {
        regionChroms = new byte[0][];
        regionLo = regionHi = new long[0];
        needPos = false;
      } else {
        String[] rs = regionSpec.split(",");
        if (part.regionIdx >= 0) {
          // region-scoped partition: filter by its own region only (the
          // per-region semantics of the Python DataSource — overlapping
          // regions each emit their own matches)
          rs = new String[] {rs[part.regionIdx]};
        }
        regionChroms = new byte[rs.length][];
        regionLo = new long[rs.length];
        regionHi = new long[rs.length];
        boolean np = false;
        for (int i = 0; i < rs.length; i++) {
          int h = rs[i].lastIndexOf(':');
          int c = rs[i].lastIndexOf(':', h - 1);
          regionChroms[i] = rs[i].substring(0, c).getBytes(StandardCharsets.UTF_8);
          regionLo[i] = Long.parseLong(rs[i].substring(c + 1, h));
          regionHi[i] = Long.parseLong(rs[i].substring(h + 1));
          np |= regionLo[i] > 1 || regionHi[i] < Long.MAX_VALUE;
        }
        needPos = np;
      }
      in = new BgzfRanges(path, part.begs, part.ends);
    }

    @Override
    public boolean next() throws IOException {
      if (!nextFields()) {
        return false;
      }
      current = buildRow();
      return true;
    }

    /** Advance to the next line that passes the header/blank/region
     * checks, leaving its bytes in lbuf/llen and field ends in tabs.
     * Shared by the row and columnar readers. */
    boolean nextFields() throws IOException {
      while (true) {
        if (!fillLine()) {
          return false;
        }
        if (parseFields()) {
          return true;
        }
      }
    }

    @Override
    public InternalRow get() {
      return current;
    }

    @Override
    public void close() throws IOException {
      in.close();
    }

    /** Assemble the next '\n'-terminated line (within the virtual-offset
     * ranges) into lbuf/llen. False when the ranges are exhausted. */
    private boolean fillLine() throws IOException {
      llen = 0;
      while (true) {
        if (in.upos >= in.ulim && !in.advance()) {
          return llen > 0; // trailing line without newline
        }
        byte[] u = in.ubuf;
        int end = in.ulim;
        int nl = -1;
        for (int i = in.upos; i < end; i++) {
          if (u[i] == '\n') {
            nl = i;
            break;
          }
        }
        int copyTo = nl >= 0 ? nl : end;
        int n = copyTo - in.upos;
        if (llen + n > lbuf.length) {
          lbuf = Arrays.copyOf(lbuf, Math.max(lbuf.length * 2, llen + n));
        }
        System.arraycopy(u, in.upos, lbuf, llen, n);
        llen += n;
        in.upos = copyTo + (nl >= 0 ? 1 : 0);
        if (nl >= 0) {
          if (llen > 0 && lbuf[llen - 1] == '\r') {
            llen--;
          }
          return true;
        }
      }
    }

    long linePos; // parsed POS of the current line (Long.MIN_VALUE = null)

    /** Scan tabs + parse POS + apply the region filter on lbuf; false to
     * skip (header/blank/filtered). */
    private boolean parseFields() {
      if (llen == 0 || lbuf[0] == '#') {
        return false;
      }
      int found = 0;
      for (int i = 0; i < llen && found <= maxField; i++) {
        if (lbuf[i] == '\t') {
          tabs[found++] = i;
        }
      }
      nTabs = found;
      for (int f = found; f <= maxField; f++) {
        tabs[f] = llen; // missing trailing fields read as empty
      }
      int chromEnd = tabs[0];
      linePos = Long.MIN_VALUE;
      if (needPos || contains(fieldOf, 1)) {
        linePos = parseLong(chromEnd + 1, tabs[1]);
      }
      if (regionChroms.length > 0) {
        boolean hit = false;
        for (int r = 0; r < regionChroms.length; r++) {
          if (bytesEqual(regionChroms[r], lbuf, 0, chromEnd)
              && (!needPos || (linePos >= regionLo[r] && linePos <= regionHi[r]))) {
            hit = true;
            break;
          }
        }
        if (!hit) {
          return false;
        }
      }
      return true;
    }

    /** Start offset of projected column i's field in lbuf. */
    int fieldStart(int i) {
      int f = fieldOf[i];
      int s = f == 0 ? 0 : tabs[f - 1] + 1;
      return s > tabs[f] ? llen : s;
    }

    /** End offset of projected column i's field in lbuf; "formats" runs
     * to the end of the line. */
    int fieldEnd(int i) {
      if (colKind[i] == 6) {
        return llen;
      }
      int f = fieldOf[i];
      int s = f == 0 ? 0 : tabs[f - 1] + 1;
      return s > tabs[f] ? llen : tabs[f];
    }

    private InternalRow buildRow() {
      Object[] vals = new Object[fieldOf.length];
      for (int i = 0; i < fieldOf.length; i++) {
        int s = fieldStart(i);
        int e = fieldEnd(i);
        switch (colKind[i]) {
          case 0:
            vals[i] = fieldOf[i] == 0 ? chromString(e) : utf8(s, e);
            break;
          case 1:
            vals[i] = linePos == Long.MIN_VALUE ? null : (Long) linePos;
            break;
          case 2:
            vals[i] = splitNullable(s, e, (byte) ';');
            break;
          case 3:
            vals[i] = splitNullable(s, e, (byte) ',');
            break;
          case 4:
            vals[i] = parseFloatNullable(s, e);
            break;
          case 6:
            vals[i] = hasFormats() ? utf8(s, e) : null;
            break;
          default:
            vals[i] = isDot(s, e) ? null : utf8(s, e);
        }
      }
      return new GenericInternalRow(vals);
    }

    private static boolean contains(int[] a, int v) {
      for (int x : a) {
        if (x == v) {
          return true;
        }
      }
      return false;
    }

    /** True when the line has a ninth field, i.e. "formats" is not null. */
    boolean hasFormats() {
      return nTabs >= 8;
    }

    private boolean isDot(int s, int e) {
      return s == e || (e - s == 1 && lbuf[s] == '.');
    }

    private UTF8String utf8(int s, int e) {
      return UTF8String.fromBytes(Arrays.copyOfRange(lbuf, s, e));
    }

    private UTF8String chromString(int e) {
      if (!bytesEqual(lastChrom, lbuf, 0, e)) {
        lastChrom = Arrays.copyOfRange(lbuf, 0, e);
        lastChromU = UTF8String.fromBytes(lastChrom);
      }
      return lastChromU;
    }

    private static boolean bytesEqual(byte[] a, byte[] b, int s, int e) {
      if (a.length != e - s) {
        return false;
      }
      for (int i = 0; i < a.length; i++) {
        if (a[i] != b[s + i]) {
          return false;
        }
      }
      return true;
    }

    private long parseLong(int s, int e) {
      if (s >= e) {
        return Long.MIN_VALUE;
      }
      long v = 0;
      for (int i = s; i < e; i++) {
        int d = lbuf[i] - '0';
        if (d < 0 || d > 9) {
          return Long.MIN_VALUE;
        }
        v = v * 10 + d;
      }
      return v;
    }

    private Object parseFloatNullable(int s, int e) {
      if (isDot(s, e)) {
        return null;
      }
      try {
        return Float.parseFloat(new String(lbuf, s, e - s, StandardCharsets.US_ASCII));
      } catch (NumberFormatException ex) {
        return null;
      }
    }

    private Object splitNullable(int s, int e, byte sep) {
      if (isDot(s, e)) {
        return null;
      }
      int cnt = 1;
      for (int i = s; i < e; i++) {
        if (lbuf[i] == sep) {
          cnt++;
        }
      }
      Object[] out = new Object[cnt];
      int k = 0;
      int tok = s;
      for (int i = s; i <= e; i++) {
        if (i == e || lbuf[i] == sep) {
          out[k++] = UTF8String.fromBytes(Arrays.copyOfRange(lbuf, tok, i));
          tok = i + 1;
        }
      }
      return new GenericArrayData(out);
    }
  }

  /**
   * Columnar variant: same line/field scanning as VcfPartitionReader (it
   * wraps one), but emits 4096-row ColumnarBatches of OnHeapColumnVectors
   * instead of per-row InternalRows — no per-row object allocation, no
   * per-row reader round trip; the downstream ColumnarToRow is a tight
   * codegen'd loop. Field bytes are APPENDED into the vectors' storage
   * (putByteArray), so nothing references the reused line buffer.
   */
  static final class VcfColumnarReader
      implements PartitionReader<org.apache.spark.sql.vectorized.ColumnarBatch> {
    private static final int CAPACITY = 4096;

    private final VcfPartitionReader core;
    private final org.apache.spark.sql.execution.vectorized.OnHeapColumnVector[] vecs;
    private final org.apache.spark.sql.vectorized.ColumnarBatch batch;
    private final int[] elemIdx; // per-column element cursor for array cols

    VcfColumnarReader(VcfPartitionReader core, String[] cols) {
      this.core = core;
      StructField[] fields = new StructField[cols.length];
      for (int i = 0; i < cols.length; i++) {
        fields[i] = FULL_SCHEMA.fields()[FULL_SCHEMA.fieldIndex(cols[i].toLowerCase())];
      }
      vecs =
          org.apache.spark.sql.execution.vectorized.OnHeapColumnVector.allocateColumns(
              CAPACITY, fields);
      batch = new org.apache.spark.sql.vectorized.ColumnarBatch(vecs);
      elemIdx = new int[cols.length];
    }

    @Override
    public boolean next() throws IOException {
      for (org.apache.spark.sql.execution.vectorized.OnHeapColumnVector v : vecs) {
        v.reset();
      }
      Arrays.fill(elemIdx, 0);
      int n = 0;
      while (n < CAPACITY && core.nextFields()) {
        emitRow(n++);
      }
      batch.setNumRows(n);
      return n > 0;
    }

    private void emitRow(int rowId) {
      byte[] lbuf = core.lbuf;
      for (int i = 0; i < core.fieldOf.length; i++) {
        org.apache.spark.sql.execution.vectorized.WritableColumnVector v = vecs[i];
        int s = core.fieldStart(i);
        int e = core.fieldEnd(i);
        switch (core.colKind[i]) {
          case 0:
            v.putByteArray(rowId, lbuf, s, e - s);
            break;
          case 1:
            if (core.linePos == Long.MIN_VALUE) {
              v.putNull(rowId);
            } else {
              v.putLong(rowId, core.linePos);
            }
            break;
          case 2:
            putSplit(v, i, rowId, lbuf, s, e, (byte) ';');
            break;
          case 3:
            putSplit(v, i, rowId, lbuf, s, e, (byte) ',');
            break;
          case 4:
            Object f = core.parseFloatNullable(s, e);
            if (f == null) {
              v.putNull(rowId);
            } else {
              v.putFloat(rowId, (Float) f);
            }
            break;
          case 6:
            if (core.hasFormats()) {
              v.putByteArray(rowId, lbuf, s, e - s);
            } else {
              v.putNull(rowId);
            }
            break;
          default:
            if (core.isDot(s, e)) {
              v.putNull(rowId);
            } else {
              v.putByteArray(rowId, lbuf, s, e - s);
            }
        }
      }
    }

    private void putSplit(
        org.apache.spark.sql.execution.vectorized.WritableColumnVector v,
        int col,
        int rowId,
        byte[] lbuf,
        int s,
        int e,
        byte sep) {
      if (core.isDot(s, e)) {
        v.putNull(rowId);
        return;
      }
      org.apache.spark.sql.execution.vectorized.WritableColumnVector elems =
          v.arrayData();
      int start = elemIdx[col];
      int k = start;
      int tok = s;
      for (int i = s; i <= e; i++) {
        if (i == e || lbuf[i] == sep) {
          elems.reserve(k + 1);
          elems.putByteArray(k++, lbuf, tok, i - tok);
          tok = i + 1;
        }
      }
      elemIdx[col] = k;
      v.putArray(rowId, start, k - start);
    }

    @Override
    public org.apache.spark.sql.vectorized.ColumnarBatch get() {
      return batch;
    }

    @Override
    public void close() throws IOException {
      batch.close();
      core.close();
    }
  }

  /**
   * Sequential decompressed view of a list of BGZF virtual-offset ranges.
   * Exposes the current block buffer (ubuf[upos..ulim)); advance() loads
   * the next block, honoring each range's record-exact [beg,end) bounds.
   */
  static final class BgzfRanges implements Closeable {
    private final FileInputStream fis;
    private final long[] begs;
    private final long[] ends;
    private int range = -1;
    private long nextCoffset = -1;
    private long endC;
    private int endU;
    private BufferedInputStream bin;
    private final Inflater inflater = new Inflater(true);
    private final byte[] cbuf = new byte[MAX_BLOCK + 512];

    final byte[] ubuf = new byte[MAX_BLOCK];
    int upos = 0;
    int ulim = 0;

    BgzfRanges(String path, long[] begs, long[] ends) throws IOException {
      this.fis = new FileInputStream(path);
      this.begs = begs;
      this.ends = ends;
    }

    /** Load the next non-empty block (or the next range's first block).
     * False when all ranges are exhausted. */
    boolean advance() throws IOException {
      while (true) {
        if (range >= 0 && nextCoffset >= 0) {
          boolean exhausted =
              nextCoffset > endC || (nextCoffset == endC && endU == 0);
          if (!exhausted) {
            long c = nextCoffset;
            if (!loadBlock()) {
              nextCoffset = -1; // EOF mid-range: fall through to next range
              continue;
            }
            upos = 0;
            ulim = c == endC ? Math.min(ulim, endU) : ulim;
            if (upos >= ulim) {
              continue; // empty block / zero-length tail
            }
            return true;
          }
        }
        // move to the next range
        range++;
        if (range >= begs.length) {
          return false;
        }
        long begC = begs[range] >>> 16;
        int begU = (int) (begs[range] & 0xFFFF);
        endC = ends[range] >>> 16;
        endU = (int) (ends[range] & 0xFFFF);
        fis.getChannel().position(begC);
        bin = new BufferedInputStream(fis, 1 << 16);
        nextCoffset = begC;
        if (!loadBlock()) {
          nextCoffset = -1;
          continue;
        }
        upos = begU;
        ulim = begC == endC ? Math.min(ulim, endU) : ulim;
        if (upos < ulim) {
          return true;
        }
      }
    }

    /** Decompress the BGZF block at nextCoffset into ubuf (ulim = its
     * length); advances nextCoffset. False at physical EOF. */
    private boolean loadBlock() throws IOException {
      int b0 = bin.read();
      if (b0 < 0) {
        return false;
      }
      cbuf[0] = (byte) b0;
      readFully(cbuf, 1, 17);
      if ((cbuf[0] & 0xff) != 0x1f
          || (cbuf[1] & 0xff) != 0x8b
          || (cbuf[2] & 0xff) != 8
          || (cbuf[3] & 0xff) != 4) {
        throw new IOException("not a BGZF block at offset " + nextCoffset);
      }
      int xlen = (cbuf[10] & 0xff) | ((cbuf[11] & 0xff) << 8);
      if (xlen < 6 || 12 + xlen > cbuf.length) {
        throw new IOException("bad BGZF XLEN " + xlen + " at offset " + nextCoffset);
      }
      readFully(cbuf, 18, xlen - 6);
      int bsize = -1;
      int p = 12;
      int xend = 12 + xlen;
      while (p + 4 <= xend) {
        int si1 = cbuf[p] & 0xff, si2 = cbuf[p + 1] & 0xff;
        int slen = (cbuf[p + 2] & 0xff) | ((cbuf[p + 3] & 0xff) << 8);
        if (si1 == 66 && si2 == 67 && slen == 2 && p + 6 <= xend) {
          bsize = (cbuf[p + 4] & 0xff) | ((cbuf[p + 5] & 0xff) << 8);
          break;
        }
        p += 4 + slen;
      }
      if (bsize < 0) {
        throw new IOException("BGZF block without BC subfield at " + nextCoffset);
      }
      int cdataLen = bsize + 1 - 12 - xlen - 8;
      if (cdataLen < 0 || cdataLen > cbuf.length) {
        throw new IOException("bad BGZF BSIZE " + bsize + " at " + nextCoffset);
      }
      readFully(cbuf, 0, cdataLen + 8);
      int isize =
          (cbuf[cdataLen + 4] & 0xff)
              | ((cbuf[cdataLen + 5] & 0xff) << 8)
              | ((cbuf[cdataLen + 6] & 0xff) << 16)
              | ((cbuf[cdataLen + 7] & 0xff) << 24);
      if (isize < 0 || isize > MAX_BLOCK) {
        throw new IOException("bad BGZF ISIZE " + isize + " at " + nextCoffset);
      }
      inflater.reset();
      inflater.setInput(cbuf, 0, cdataLen);
      int n = 0;
      try {
        while (n < isize && !inflater.finished()) {
          int got = inflater.inflate(ubuf, n, isize - n);
          if (got == 0 && inflater.needsInput()) {
            break;
          }
          n += got;
        }
      } catch (DataFormatException e) {
        throw new IOException("corrupt BGZF CDATA at offset " + nextCoffset, e);
      }
      if (n != isize) {
        throw new IOException(
            "BGZF ISIZE mismatch at " + nextCoffset + ": " + n + " != " + isize);
      }
      nextCoffset += bsize + 1;
      ulim = n;
      return true;
    }

    private void readFully(byte[] b, int off, int len) throws IOException {
      while (len > 0) {
        int n = bin.read(b, off, len);
        if (n < 0) {
          throw new EOFException("truncated BGZF block");
        }
        off += n;
        len -= n;
      }
    }

    @Override
    public void close() throws IOException {
      try {
        inflater.end();
      } finally {
        fis.close();
      }
    }
  }
}
