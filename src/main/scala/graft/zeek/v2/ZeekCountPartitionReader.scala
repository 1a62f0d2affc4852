package graft.zeek.v2

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types.StructType

import graft.zeek._

/** Reader for a pushed COUNT(*): counts the split's data lines (blank
  * lines and directives skipped — identical line semantics to the data
  * reader, via the same [[ZeekLineScanner]]) and emits ONE row with the
  * count. Strict-mode schema validation and the ignore_file_errors
  * policy are the data scan's own ([[ZeekLineScanner.open]]): a mismatched file still
  * errors a COUNT(*), and an ignored bad file contributes zero. */
final class ZeekCountPartitionReader(
    spec: ZeekFileSpec,
    boundHeader: ZeekHeader,
    dataSchema: StructType,
    opts: ZeekOptions,
    conf: Configuration,
    nCounts: Int) extends PartitionReader[InternalRow] {

  private var done = false
  private var row: InternalRow = _
  private val scanner = new ZeekLineScanner(spec, opts, conf)

  override def next(): Boolean = {
    if (done) return false
    done = true
    var n = 0L
    // validation only: per-file schema check / union mapping, with an
    // empty projection (throws on mismatch exactly like a scan)
    if (scanner.open(boundHeader, dataSchema, new StructType()).isDefined)
      while (scanner.nextDataLine()) n += 1
    row = new GenericInternalRow(Array.fill[Any](nCounts)(n))
    true
  }

  override def get(): InternalRow = row

  override def close(): Unit = scanner.close()
}
