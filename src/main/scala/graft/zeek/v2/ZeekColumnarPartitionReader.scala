package graft.zeek.v2

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

import graft.zeek._

/** The zeek scan's one data reader (reference: ZeekScanExecute,
  * src/zeek_scanner.cpp:670-900): a [[ZeekLineScanner]] feeds lines, a
  * [[ZeekProjection]] tokenizes them, and every projected cell is parsed
  * straight into reused `OnHeapColumnVector`s handed to Spark as
  * [[ColumnarBatch]]es of up to 4096 rows. It serves every scan shape:
  * scalar columns, list columns (`set`/`vector` → array, filled through
  * the array's child vector), the `filename` virtual column, pushed
  * filters and a pushed limit. COUNT(*) without the aggregate pushdown
  * degenerates to zero-column batches that only carry a row count.
  *
  * Why: Spark's row-based DSv2 path costs two virtual calls plus an
  * UnsafeRow copy per row; at Zeek-scan rates (millions of rows/s/core)
  * that overhead rivals the parse itself. Batching amortizes it 4096×,
  * and Spark's whole-stage codegen consumes the vectors directly.
  *
  * Reader-evaluable pushed filters run first on each line: only their
  * columns are parsed (boxed, [[ZeekProjection.parseCol]]) and the
  * predicate evaluated; a passing row is written into the next dense
  * batch slot, and a rejected row never parses its other columns
  * (src/zeek_scanner.cpp:718-771). A pushed limit counts passing rows.
  */
final class ZeekColumnarPartitionReader(
    spec: ZeekFileSpec,
    boundHeader: ZeekHeader,
    dataSchema: StructType,
    opts: ZeekOptions,
    required: StructType,
    pushed: Array[Filter],
    conf: Configuration,
    limit: Int = -1) extends PartitionReader[ColumnarBatch] {

  private val BatchSize = 4096

  private val scanner = new ZeekLineScanner(spec, opts, conf)
  private var proj: ZeekProjection = _
  private var initialized = false
  private var finished = false
  private var emitted = 0L

  private val nReq = required.length
  private val prim = new ZeekTypes.PrimParsers

  private var vectors: Array[OnHeapColumnVector] = _
  private var batch: ColumnarBatch = _
  private var filenameBytes: Array[Byte] = _

  // filter-first plan: the filter columns' boxed values, indexed like
  // `required`, are all the predicate reads
  private val (filterCols, predicate) = {
    val reqIndex = required.fieldNames.zipWithIndex.toMap
    val dts = required.fields.map(f => f.name -> f.dataType).toMap
    val supported = pushed.filter(f => ZeekFilterEval.referencedIfSupported(f).isDefined)
    if (supported.isEmpty) (Array.emptyIntArray, null: ZeekFilterEval.RowPred)
    else {
      val preds = supported.map(ZeekFilterEval.compile(_, reqIndex, dts))
      val names = supported.flatMap(f => ZeekFilterEval.referencedIfSupported(f).get).distinct
      val pred: ZeekFilterEval.RowPred = row => preds.forall(p => p(row))
      (names.flatMap(reqIndex.get), pred)
    }
  }
  private val filterValues = new Array[Any](nReq)

  override def next(): Boolean = {
    if (finished) return false
    if (!initialized) {
      initialized = true
      scanner.open(boundHeader, dataSchema, required) match {
        case Some(p) =>
          proj = p
          vectors = required.fields.map(f => new OnHeapColumnVector(BatchSize, f.dataType))
          batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))
          filenameBytes = proj.filenameValue.getBytes
        case None =>
          finished = true
          return false
      }
    }
    if (limit >= 0 && emitted >= limit) { finished = true; close(); return false }
    var i = 0
    while (i < nReq) { vectors(i).reset(); i += 1 }
    var n = 0
    while (n < BatchSize && (limit < 0 || emitted < limit) && scanner.nextDataLine()) {
      val buf = scanner.buf
      val nTok = proj.tokenize(buf, scanner.lineStart, scanner.lineEnd)
      if (predicate == null || passes(buf, nTok)) {
        writeRow(n, buf, nTok)
        n += 1
        emitted += 1
      }
    }
    if (n == 0) { finished = true; close(); false }
    else { batch.setNumRows(n); true }
  }

  /** Parse only the filter columns of the tokenized line and evaluate the
    * pushed predicate on them. */
  private def passes(buf: Array[Byte], nTok: Int): Boolean = {
    var k = 0
    while (k < filterCols.length) {
      val c = filterCols(k)
      filterValues(c) = proj.parseCol(c, buf, nTok)
      k += 1
    }
    predicate(filterValues)
  }

  /** Parse the tokenized line into row slot `rowId` of every projected
    * vector, with [[ZeekProjection.parseCol]]'s semantics: a cell absent
    * from the file is NULL; a scalar marker is NULL, and a malformed
    * scalar is NULL through its typed primitive parser; list cells follow
    * [[ZeekTypes.ListParser]]. */
  private def writeRow(rowId: Int, buf: Array[Byte], nTok: Int): Unit = {
    val srcIdx = proj.srcIdx
    val tokStart = proj.tokStart
    val tokEnd = proj.tokEnd
    val typeCodes = proj.typeCodes
    var c = 0
    while (c < nReq) {
      val v = vectors(c)
      val si = srcIdx(c)
      if (si == -2) v.putByteArray(rowId, filenameBytes, 0, filenameBytes.length)
      else if (si < 0 || si >= nTok) v.putNull(rowId)
      else {
        val s = tokStart(si)
        val e = tokEnd(si)
        val lp = proj.listParsers(c)
        if (lp != null) putList(v, rowId, lp, typeCodes(c), buf, s, e)
        else if (ZeekTypes.sliceEquals(buf, s, e, proj.unsetBytes) ||
            ZeekTypes.sliceEquals(buf, s, e, proj.emptyBytes)) v.putNull(rowId)
        else putValue(v, rowId, typeCodes(c), buf, s, e)
      }
      c += 1
    }
  }

  /** A list cell: its elements are appended to the array's child vector
    * (a marker element is a NULL element), then row `rowId` points at
    * them; an unset/empty cell is an empty array. */
  private def putList(v: WritableColumnVector, rowId: Int, lp: ZeekTypes.ListParser,
      elemType: Int, buf: Array[Byte], s: Int, e: Int): Unit = {
    val child = v.getChild(0)
    val offset = child.getElementsAppended
    lp.foreachElem(buf, s, e) { (es, ee) =>
      val idx = child.getElementsAppended
      child.reserve(idx + 1)
      if (lp.isMarker(buf, es, ee)) child.putNull(idx)
      else putValue(child, idx, elemType, buf, es, ee)
      child.addElementsAppended(1)
    }
    v.putArray(rowId, offset, child.getElementsAppended - offset)
  }

  /** Parse a non-marker scalar slice with the primitive parser of type
    * code `tc` into slot `rowId` of `v`; a malformed value is NULL. */
  private def putValue(v: WritableColumnVector, rowId: Int, tc: Int,
      buf: Array[Byte], s: Int, e: Int): Unit = tc match {
    case ZeekTypes.TcString => v.putByteArray(rowId, buf, s, e - s)
    case ZeekTypes.TcCount =>
      val x = prim.longIn(buf, s, e, 0L, Long.MaxValue)
      if (prim.lastNull) v.putNull(rowId) else v.putLong(rowId, x)
    case ZeekTypes.TcInt =>
      val x = prim.longIn(buf, s, e, Long.MinValue, Long.MaxValue)
      if (prim.lastNull) v.putNull(rowId) else v.putLong(rowId, x)
    case ZeekTypes.TcPort =>
      val x = prim.longIn(buf, s, e, 0L, 65535L)
      if (prim.lastNull) v.putNull(rowId) else v.putInt(rowId, x.toInt)
    case ZeekTypes.TcTime =>
      val x = prim.timeMicros(buf, s, e)
      if (prim.lastNull) v.putNull(rowId) else v.putLong(rowId, x)
    case ZeekTypes.TcBool => v.putBoolean(rowId, prim.bool(buf, s, e))
    case ZeekTypes.TcDouble =>
      val x = prim.dbl(buf, s, e)
      if (prim.lastNull) v.putNull(rowId) else v.putDouble(rowId, x)
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    scanner.close()
    if (batch != null) { batch.close(); batch = null }
  }
}
