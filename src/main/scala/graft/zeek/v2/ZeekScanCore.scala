package graft.zeek.v2

import java.io.InputStream
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.zeek._

/** Line-level scan state shared by the columnar data reader and the
  * COUNT(*) reader: open (+ decompression sniff), incremental header
  * parse, ranged-split positioning (a line belongs to the split
  * containing its first byte), blank/mid-file-directive skipping, and the
  * ignore_file_errors semantics for open and read errors.
  *
  * Callers drive it as: `open(...)` (None = no data) then
  * `while (nextDataLine()) use (buf, lineStart, lineEnd)`.
  */
final class ZeekLineScanner(spec: ZeekFileSpec, opts: ZeekOptions,
    conf: Configuration) {

  var fileHeader: ZeekHeader = _ // valid after init() returns true
  var buf: Array[Byte] = _
  var lineStart = 0
  var lineEnd = 0

  private var in: InputStream = _
  private var lines: ByteLineReader = _
  private var pendingBytes: Array[Byte] = _
  private var pendingOffset = 0L
  private var rangeEnd: Long = -1L // exclusive; -1 = unbounded
  private var done = false

  /** Open the split and build its projection under the scan's one
    * open/error policy: an error while opening, reading the header or
    * validating the file against the bound schema yields no data under
    * ignore_file_errors, a [[ZeekFormatException]] propagates as is, and
    * any other error is wrapped as "Failed to read Zeek log '<path>'".
    * Returns None when this split yields no data. */
  def open(boundHeader: ZeekHeader, dataSchema: StructType,
      required: StructType): Option[ZeekProjection] =
    try {
      if (!init()) None
      else Some(new ZeekProjection(spec, boundHeader, dataSchema, opts, required, fileHeader))
    } catch {
      case _: Exception if opts.ignoreFileErrors =>
        close()
        None
      case e: ZeekFormatException => throw e
      case e: Exception =>
        throw new ZeekFormatException(s"Failed to read Zeek log '${spec.path}': ${e.getMessage}")
    }

  /** Open the file and parse its header. Returns false when this split
    * yields no data (compressed content under a ranged split, an empty
    * tail). Header/IO errors propagate to [[open]]. */
  private def init(): Boolean = {
    if (spec.start > 0) {
      // ranged split of an uncompressed file: parse + validate the header
      // from offset 0 first (cheap — a few KB) so an invalid or
      // schema-mismatched file behaves exactly like the whole-file path;
      // then seek to start-1 and discard the first (partial) line.
      val (raw, compressed) = ZeekIO.openRaw(spec.path, conf)
      in = raw
      if (compressed) {
        // extension lied (plain name, compressed content): the start-0
        // split reads the whole file; this split contributes nothing
        done = true
        close()
        return false
      }
      raw.seek(0)
      val headReader = new ByteLineReader(new java.io.BufferedInputStream(raw, 16 * 1024))
      val hb = new ZeekHeader.Builder
      var headerDone = false
      while (!headerDone && headReader.next()) {
        if (!hb.offer(headReader.lineString)) headerDone = true
      }
      fileHeader = hb.build() // throws on non-zeek content
      raw.seek(spec.start - 1)
      lines = new ByteLineReader(new java.io.BufferedInputStream(raw, 64 * 1024),
        baseOffset = spec.start - 1)
      if (!lines.next()) { done = true; close(); return false } // empty tail
      rangeEnd = spec.end
      return true
    }

    val (stream, compressed) = ZeekIO.openWithInfo(spec.path, conf)
    in = stream
    if (!compressed) rangeEnd = spec.end // compressed files are never range-bounded
    lines = new ByteLineReader(in)
    // incremental header parse: no look-ahead, so the first data line is
    // captured as bytes and the reader stays positioned at the second
    val hb = new ZeekHeader.Builder
    var headerDone = false
    while (!headerDone && lines.next()) {
      if (!hb.offer(lines.lineString)) {
        pendingBytes = java.util.Arrays.copyOfRange(lines.buf, lines.lineStart, lines.lineEnd)
        pendingOffset = lines.lineOffset
        headerDone = true
      }
    }
    fileHeader = hb.build()
    true
  }

  /** Advance to the next data line (blank lines and mid/trailing
    * directives like #close are skipped). Returns false at EOF or when
    * the split's byte range is exhausted. Read errors follow
    * ignore_file_errors: swallowed as EOF when set, wrapped otherwise. */
  def nextDataLine(): Boolean = {
    if (done) return false
    while (true) {
      if (pendingBytes != null) {
        buf = pendingBytes
        lineStart = 0
        lineEnd = pendingBytes.length
        pendingBytes = null
        if (rangeEnd >= 0 && pendingOffset >= rangeEnd) {
          // first data line starts beyond this split (split ends inside
          // the header region) — it belongs to a later split
          done = true
          close()
          return false
        }
      } else {
        val ok =
          try lines.next()
          catch {
            case e: Exception if opts.ignoreFileErrors =>
              done = true; close(); return false
            case e: Exception =>
              throw new ZeekFormatException(s"Failed to read Zeek log '${spec.path}': ${e.getMessage}")
          }
        if (!ok) { done = true; close(); return false }
        if (rangeEnd >= 0 && lines.lineOffset >= rangeEnd) {
          // next line starts in a later split — this range is done
          done = true
          close()
          return false
        }
        buf = lines.buf
        lineStart = lines.lineStart
        lineEnd = lines.lineEnd
      }
      if (lineEnd > lineStart && buf(lineStart) != '#') return true
    }
    false // unreachable
  }

  def close(): Unit = {
    if (in != null) {
      try in.close() catch { case _: Exception => }
      in = null
    }
  }
}

/** Per-column projection plan of a scan: maps each required output
  * column to its file field (strict-mode validation or union-by-name),
  * selects its boxed parser / primitive type code, and owns the reused
  * token-offset arrays. */
final class ZeekProjection(spec: ZeekFileSpec, boundHeader: ZeekHeader,
    dataSchema: StructType, opts: ZeekOptions, required: StructType,
    fileHeader: ZeekHeader) {

  val nReq: Int = required.length

  // strict-mode per-file validation (src/zeek_scanner.cpp:295-303);
  // union-mode files without a bind-time map (streaming arrivals) get a
  // by-name mapping with type checking instead
  private val colMap: Option[Array[Int]] = spec.colMap.orElse {
    if (opts.unionByName) Some(unionMapByName())
    else {
      boundHeader.diff(fileHeader).foreach { d =>
        throw new ZeekFormatException(
          s"Zeek log schema mismatch: file '${spec.path}' does not match the bound schema: $d")
      }
      None
    }
  }

  val sepByte: Byte = fileHeader.separator.toByte
  val unsetBytes: Array[Byte] = fileHeader.unsetField.getBytes(StandardCharsets.UTF_8)
  val emptyBytes: Array[Byte] = fileHeader.emptyField.getBytes(StandardCharsets.UTF_8)
  val nFileFields: Int = fileHeader.fields.length
  val tokStart = new Array[Int](nFileFields + 1)
  val tokEnd = new Array[Int](nFileFields + 1)
  /** file field index per required column; -1 = NULL, -2 = filename */
  val srcIdx = new Array[Int](nReq)
  val scalarParsers = new Array[ZeekTypes.SliceParser](nReq)
  val listParsers = new Array[ZeekTypes.ListParser](nReq)
  /** ZeekTypes.Tc* per required column (the element type for list columns) */
  val typeCodes = new Array[Int](nReq)
  val filenameValue: UTF8String = UTF8String.fromString(ZeekIO.displayPath(spec.path))

  {
    val dataIndex = dataSchema.fieldNames.zipWithIndex.toMap
    var i = 0
    while (i < nReq) {
      val f = required.fields(i)
      if (opts.filename && f.name == "filename" && !dataIndex.contains("filename")) {
        srcIdx(i) = -2
      } else {
        val di = dataIndex(f.name)
        srcIdx(i) = colMap.map(m => m(di)).getOrElse(di)
        val zt = f.metadata match {
          case m if m.contains(ZeekTypes.ZeekTypeMeta) => m.getString(ZeekTypes.ZeekTypeMeta)
          case _ => dataSchema.fields(di).metadata.getString(ZeekTypes.ZeekTypeMeta)
        }
        f.dataType match {
          case ArrayType(_, _) =>
            listParsers(i) = new ZeekTypes.ListParser(
              ZeekTypes.parserFor(ZeekTypes.innerType(zt)),
              fileHeader.setSeparator.getBytes(StandardCharsets.UTF_8),
              unsetBytes, emptyBytes)
            typeCodes(i) = ZeekTypes.typeCodeFor(ZeekTypes.innerType(zt))
          case _ =>
            scalarParsers(i) = ZeekTypes.parserFor(zt)
            typeCodes(i) = ZeekTypes.typeCodeFor(zt)
        }
      }
      i += 1
    }
  }

  /** Tokens needed per line: the reader never touches a token past the
    * largest projected file-field index (parseCol and the columnar fill
    * both index through srcIdx, and pushed-filter columns resolve through
    * `required` too), so tokenization stops there. On an ultra-wide log
    * with a narrow early projection this skips the tail separator scan of
    * every line — the `zeek_v2.wide_*` legs of perfbench's scan ladder
    * measure it. Lines SHORTER than the cap keep their semantics: nTok
    * comes back smaller and absent fields stay NULL, exactly as with the
    * full scan. */
  val nTokNeeded: Int = {
    var mx = 0
    var i = 0
    while (i < nReq) {
      if (srcIdx(i) >= mx) mx = srcIdx(i) + 1
      i += 1
    }
    math.min(mx, nFileFields)
  }

  /** Tokenize a line into the reused offset arrays; returns token count
    * (capped at [[nTokNeeded]] — the lazy tail). */
  def tokenize(buf: Array[Byte], ls: Int, le: Int): Int = {
    var nTok = 0
    var start = ls
    var i = ls
    while (i <= le && nTok < nTokNeeded) {
      if (i == le || buf(i) == sepByte) {
        tokStart(nTok) = start
        tokEnd(nTok) = i
        nTok += 1
        start = i + 1
      }
      i += 1
    }
    nTok
  }

  /** Boxed single-column parse for pushed-filter evaluation; scalar
    * columns only, as no filter on a list column is pushed
    * ([[ZeekFilterEval.pushableType]]). */
  def parseCol(c: Int, buf: Array[Byte], nTok: Int): Any = {
    val si = srcIdx(c)
    if (si == -2) return filenameValue
    if (si < 0 || si >= nTok) return null // absent in this file (union mode) → NULL
    val s = tokStart(si)
    val e = tokEnd(si)
    if (ZeekTypes.sliceEquals(buf, s, e, unsetBytes) ||
        ZeekTypes.sliceEquals(buf, s, e, emptyBytes)) null
    else scalarParsers(c)(buf, s, e)
  }

  /** Union-mode mapping for a file not seen at bind time: match fields by
    * (renamed) name; a shared name must carry the same Zeek type as the
    * bound schema; unknown extra fields are ignored, absent → NULL. */
  private def unionMapByName(): Array[Int] = {
    def rename(n: String) = if (opts.replacePeriods) n.replace('.', '_') else n
    val filePos = fileHeader.fields.indices.map(i => rename(fileHeader.fields(i)) -> i).toMap
    dataSchema.fields.map { f =>
      filePos.get(f.name) match {
        case Some(i) =>
          val boundType = f.metadata.getString(ZeekTypes.ZeekTypeMeta)
          val fileType = fileHeader.types(i)
          if (boundType != fileType)
            throw new ZeekFormatException(
              s"union_by_name type conflict: field '${f.name}' has type '$boundType' in the bound schema but type '$fileType' in file '${spec.path}'")
          i
        case None => -1
      }
    }
  }
}
