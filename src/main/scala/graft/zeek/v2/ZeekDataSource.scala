package graft.zeek.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableCatalog, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.zeek._

/** Hadoop Configuration is not Serializable; ship it to executors via
  * Hadoop's own Writable serialization (standard connector pattern). */
final class SerializableConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** Spark DataSource V2 for Zeek logs — `spark.read.format("zeek")`.
  *
  * Reproduces the reference's `read_zeek` table function (SURVEY.md §2.A,
  * reference src/zeek_scanner.cpp:913-925): header-driven schema
  * inference, strict / union_by_name multi-file resolution, projection +
  * filter pushdown, COUNT(*) fast path, `filename` virtual column,
  * gzip/zstd auto-detection, ignore_file_errors.
  *
  * Scale model: one InputPartition per file (the reference's
  * MaxThreads = #files, generalized to a multi-node cluster by Spark's
  * scheduler — Zeek deployments rotate logs hourly, so a 100 TB corpus is
  * tens of thousands of files scanned fully in parallel).
  */
class ZeekDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zeek"

  /** Strict for reads: a pattern matching no files fails the load with
    * the reference's bind error (src/zeek_scanner.cpp:446-453), like
    * every other bind error. DataFrame and stream writers never call
    * this — they hand [[getTable]] the query's schema. The one write that
    * does is a catalog `CREATE TABLE … USING zeek` without columns (its
    * options carry the catalog's `provider` property): over a directory
    * that holds no logs yet it gets the empty sentinel schema, so a first
    * `INSERT INTO` can land (see [[ZeekTable.schema]]). */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    try ZeekDataSource.bind(options).schema
    catch {
      case e: ZeekFormatException
          if ZeekDataSource.noFiles(e) && options.containsKey(TableCatalog.PROP_PROVIDER) =>
        new StructType()
    }

  /** Lets the session catalog hand us a declared schema (`CREATE TABLE …
    * USING zeek` + `INSERT INTO`); reads still derive truth from the log
    * headers and reject a mismatching declaration at scan planning. */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ZeekTable(new CaseInsensitiveStringMap(properties), Option(schema))
}

object ZeekDataSource {
  /** Bind results are cached briefly per options-map so inferSchema +
    * getTable within one read don't re-open files (union_by_name reads
    * every header at bind). The TTL keeps interactive re-reads fresh —
    * without it, files added to a directory after the first read would be
    * invisible to later reads with identical options. */
  private val BindTtlMs = 10000L
  private val cache = new java.util.LinkedHashMap[Map[String, String], (Long, ZeekBind)](8, 0.75f, true) {
    override def removeEldestEntry(e: util.Map.Entry[Map[String, String], (Long, ZeekBind)]): Boolean = size > 8
  }

  /** Drop every cached bind — called after a sink commit so a read that
    * follows a write in the same TTL window re-lists the directory
    * instead of planning against deleted/stale part files. */
  def clearBindCache(): Unit = cache.synchronized(cache.clear())

  /** The bind error of a pattern that matches no files. */
  def noFiles(e: ZeekFormatException): Boolean = e.getMessage.startsWith("No files found")

  def bind(options: CaseInsensitiveStringMap): ZeekBind = {
    val key = options.asCaseSensitiveMap().asScala.toMap
    val now = System.currentTimeMillis()
    cache.synchronized {
      val hit = cache.get(key)
      if (hit != null && now - hit._1 < BindTtlMs) return hit._2
    }
    val paths = extractPaths(options)
    val opts = ZeekOptions.fromMap(options)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val b = ZeekSchema.bind(paths, opts, conf)
    cache.synchronized(cache.put(key, (now, b)))
    b
  }

  private def extractPaths(options: CaseInsensitiveStringMap): Seq[String] = {
    val single = Option(options.get("path")).toSeq
    val multi = Option(options.get("paths")).toSeq.flatMap { json =>
      // DataFrameReader encodes multiple paths as a JSON string array
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.readValue(json, classOf[Array[String]]).toSeq
    }
    val all = single ++ multi
    if (all.isEmpty)
      throw new ZeekFormatException("zeek source requires a path, e.g. spark.read.format(\"zeek\").load(\"/logs/*.log.gz\")")
    all
  }
}

/** Binds lazily: a read resolves files/schema when Spark first asks for
  * them (cached — see [[ZeekDataSource.bind]]); writes never bind, they
  * only need the write schema ([[ZeekWriteBuilder]]).
  *
  * Write schema resolution: while the table schema is the empty sentinel
  * (a catalog table created without columns over a directory with no
  * logs yet) ACCEPT_ANY_SCHEMA lets
  * the query's own schema through; once a real schema exists (log
  * headers, or a catalog declaration) Spark's output resolver validates
  * appends against it — `INSERT INTO` renames positionally to the
  * declared names, DataFrame appends match by name. Overwriting a
  * directory with a DIFFERENT schema therefore needs the directory
  * cleared first (same as re-declaring any table). */
class ZeekTable(props: CaseInsensitiveStringMap,
    provided: Option[StructType] = None)
    extends Table with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  private lazy val bind = ZeekDataSource.bind(props)
  override def name(): String = s"zeek(${Option(props.get("path")).getOrElse("?")})"
  override def schema(): StructType = provided match {
    case Some(declared) if declared.nonEmpty => declared
    case Some(_) => // a catalog table created without columns: the sentinel until a write lands
      try bind.schema
      catch { case e: ZeekFormatException if ZeekDataSource.noFiles(e) => new StructType() }
    case None => bind.schema // read_zeek: binds strictly, like a DataFrame read
  }
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE)
    if (schema().isEmpty) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a catalog-declared schema must agree with the log headers — the
    // headers are the ground truth the scan produces
    provided.filter(_.nonEmpty).foreach { p =>
      val declared = p.fields.map(f => (f.name, f.dataType)).toSeq
      val actual = bind.schema.fields.map(f => (f.name, f.dataType)).toSeq
      if (declared != actual)
        throw new ZeekFormatException(
          s"declared schema ${declared.map { case (n, t) => s"$n:${t.simpleString}" }.mkString(", ")} " +
            s"does not match the log header schema ${actual.map { case (n, t) => s"$n:${t.simpleString}" }.mkString(", ")}")
    }
    new ZeekScanBuilder(bind)
  }
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val dir = Option(props.get("path")).getOrElse(
      throw new ZeekFormatException("zeek sink requires a path: df.write.format(\"zeek\").save(\"/out/dir\")"))
    new ZeekWriteBuilder(info, dir, props)
  }
}

/** Pushdown policy (SURVEY.md S18-S21): prune columns to the required
  * set; accept scalar-typed constant comparisons / IN / IS NULL / AND/OR
  * for reader-side pre-parse evaluation, but report every filter as
  * residual so Catalyst re-evaluates — pushdown is purely an I/O
  * optimization and can never change semantics. */
class ZeekScanBuilder(bind: ZeekBind)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = bind.schema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var countStars: Int = 0

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** COUNT(*) pushdown: each partition emits ONE row carrying its line
    * count — no tokenization, no per-row iteration through the scan exec;
    * Spark sums the partials. Anything beyond ungrouped COUNT(*) is
    * declined (and Spark only attempts the pushdown when no post-scan
    * filters remain, which — since every zeek filter is reported residual
    * — means exactly the unfiltered case). */
  override def pushAggregation(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.CountStar
    if (aggregation.groupByExpressions.nonEmpty) return false
    if (aggregation.aggregateExpressions.isEmpty ||
        !aggregation.aggregateExpressions.forall(_.isInstanceOf[CountStar])) return false
    countStars = aggregation.aggregateExpressions.length
    true
  }

  /** Partial limit pushdown: each partition stops reading after `limit`
    * post-filter rows (LocalLimit semantics); Spark still applies the
    * global limit, so we return false. Saves decompress+parse I/O for
    * `LIMIT n` exploration queries over big logs. */
  override def pushLimit(l: Int): Boolean = {
    limit = l
    false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val byName = bind.schema.fields.map(f => f.name -> f.dataType).toMap
    pushed = filters.filter { f =>
      ZeekFilterEval.referencedIfSupported(f) match {
        case Some(cols) => cols.forall(c => byName.get(c).exists(ZeekFilterEval.pushableType))
        case None       => false
      }
    }
    filters // all residual: Spark re-checks everything (safe by construction)
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** Filename-predicate file pruning — the partition-pruning analog for
    * a rotated-log directory: a filter that references ONLY the
    * `filename` virtual column is evaluated against each file's display
    * path at plan time, and non-matching files never open. At the
    * reference's files=threads scale model (hourly rotation → tens of
    * thousands of files) `filename LIKE '%2026-01-16%'` turns a
    * directory scan into a handful of file reads. The filter is still
    * residual, so Spark re-checks rows — pruning can never change
    * semantics. */
  private def pruneFilesByFilename(b: ZeekBind): ZeekBind = {
    if (!b.opts.filename || b.dataSchema.fieldNames.contains("filename")) return b
    val fnameFilters = pushed.filter(f =>
      ZeekFilterEval.referencedIfSupported(f).exists(cols =>
        cols.nonEmpty && cols.forall(_ == "filename")))
    if (fnameFilters.isEmpty) return b
    val reqIndex = Map("filename" -> 0)
    val dts = Map("filename" -> (org.apache.spark.sql.types.StringType: org.apache.spark.sql.types.DataType))
    val preds = fnameFilters.map(ZeekFilterEval.compile(_, reqIndex, dts))
    val kept = b.files.filter { spec =>
      val row: Array[Any] = Array(
        org.apache.spark.unsafe.types.UTF8String.fromString(ZeekIO.displayPath(spec.path)))
      preds.forall(p => p(row))
    }
    b.copy(files = kept)
  }

  override def build(): Scan = {
    val pruned = pruneFilesByFilename(bind)
    if (countStars > 0) new ZeekCountScan(pruned, countStars)
    else new ZeekScan(pruned, required, pushed, limit)
  }
}

/** Scan for a pushed ungrouped COUNT(*): partitions are the same
  * file/range splits as [[ZeekScan]], but each emits a single row with
  * its count. Per-file schema validation and ignore_file_errors semantics
  * are identical to a data scan (the reference errors on a mismatched
  * file even for counts). */
class ZeekCountScan(bind: ZeekBind, nCounts: Int) extends Scan with Batch {
  override def readSchema(): StructType =
    StructType((0 until nCounts).map(i =>
      org.apache.spark.sql.types.StructField(s"count_star_$i",
        org.apache.spark.sql.types.LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"ZeekCountScan files=${bind.files.size} pushed=[COUNT(*)]"
  override def planInputPartitions(): Array[InputPartition] = ZeekPlanning.partitions(bind)
  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConf(SparkSession.active.sessionState.newHadoopConf())
    ZeekCountReaderFactory(bind.header, bind.dataSchema, bind.opts, conf, nCounts)
  }
}

final case class ZeekCountReaderFactory(
    boundHeader: ZeekHeader,
    dataSchema: StructType,
    opts: ZeekOptions,
    conf: SerializableConf,
    nCounts: Int) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    new ZeekCountPartitionReader(partition.asInstanceOf[ZeekInputPartition].spec,
      boundHeader, dataSchema, opts, conf.value, nCounts)
}

class ZeekScan(bind: ZeekBind, required: StructType, pushed: Array[Filter],
    limit: Int = -1)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** RUNTIME file pruning (dynamic "partition" pruning for the rotation
    * model): when this scan joins on its `filename` virtual column and
    * the other side is small, Spark's PartitionPruning rule plants a
    * DynamicPruning IN-filter and delivers the matching values here at
    * EXECUTION time — files outside the joined set never open. This is
    * the v2 twin of the plan-time `pruneFilesByFilename`: that one needs
    * the file set as literals in the query; this one gets it from DATA
    * (an intel table, yesterday's manifest, a dimension of interesting
    * hours). Only `filename` is offered, and only while it is the
    * virtual column — a real data column named `filename` is row
    * content, not the path identity. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (bind.opts.filename && !bind.dataSchema.fieldNames.contains("filename"))
      Array(org.apache.spark.sql.connector.expressions.Expressions.column("filename"))
    else Array.empty

  @volatile private var runtimeBind: ZeekBind = bind

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    // understand IN(filename, ...) and =(filename, lit); ignore anything
    // else — runtime pruning is an optimization, the join re-checks rows
    def stringValues(p: org.apache.spark.sql.connector.expressions.filter.Predicate): Option[Set[String]] = {
      val children = p.children()
      def isFilenameRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean = e match {
        case r: org.apache.spark.sql.connector.expressions.NamedReference =>
          r.fieldNames().sameElements(Array("filename"))
        case _ => false
      }
      def lit(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] = e match {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] if l.value != null =>
          Some(l.value.toString)
        case _ => None
      }
      p.name() match {
        case "IN" if children.nonEmpty && isFilenameRef(children.head) =>
          val vals = children.tail.map(lit)
          if (vals.forall(_.isDefined)) Some(vals.flatten.toSet) else None
        case "=" if children.length == 2 && isFilenameRef(children.head) =>
          lit(children(1)).map(Set(_))
        case "=" if children.length == 2 && isFilenameRef(children(1)) =>
          lit(children.head).map(Set(_))
        case _ => None
      }
    }
    val allowedSets = predicates.flatMap(stringValues(_))
    if (allowedSets.nonEmpty) {
      val kept = runtimeBind.files.filter { spec =>
        val display = ZeekIO.displayPath(spec.path)
        allowedSets.forall(_.contains(display))
      }
      runtimeBind = runtimeBind.copy(files = kept)
    }
  }

  /** Size estimate = on-disk bytes × a decompression factor for
    * compressed files — lets Catalyst/AQE make join-side decisions (e.g.
    * broadcasting a small lookup log). Lengths come from the bind-time
    * glob listing carried in each [[ZeekFileSpec]]: planning issues ZERO
    * filesystem RPCs (asserted by ZeekPlanTimeFsSpec). */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes: Long = bind.files.map { f =>
      val len = math.max(f.length, 0L)
      val name = f.path.toLowerCase
      if (name.endsWith(".gz") || name.endsWith(".zst")) len * 6 else len
    }.sum
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }
  override def description(): String =
    s"ZeekScan files=${bind.files.size} required=[${required.fieldNames.mkString(",")}] pushed=[${pushed.mkString(",")}]"

  /** One partition per file — the reference's MaxThreads = #files model
    * (src/include/zeek_reader.hpp:120-122) mapped onto Spark's scheduler —
    * plus byte-range splits for large uncompressed files (beyond the
    * reference: a single huge plain log no longer serializes the scan).
    * Compression is judged by extension here; a mis-named compressed file
    * is caught by the reader's magic-byte sniff (start-0 split reads the
    * whole file, other splits yield 0 rows). */
  override def planInputPartitions(): Array[InputPartition] =
    ZeekPlanning.partitions(runtimeBind)

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConf(SparkSession.active.sessionState.newHadoopConf())
    ZeekPartitionReaderFactory(bind.header, bind.dataSchema, bind.opts, required, pushed, conf, limit)
  }

  /** Streaming read: each trigger re-globs the pattern; new files become
    * the micro-batch's partitions (Zeek's hourly-rotation model). */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ZeekMicroBatchStream(bind, bind.patterns, required, pushed,
      SparkSession.active.sessionState.newHadoopConf())
}

final case class ZeekInputPartition(spec: ZeekFileSpec) extends InputPartition

/** One partition per file — the reference's MaxThreads = #files model —
  * plus byte-range splits of large uncompressed files, computed purely
  * from bind-time lengths (no filesystem RPCs at plan time). */
object ZeekPlanning {
  def partitions(bind: ZeekBind): Array[InputPartition] = {
    val split = bind.opts.splitSize
    bind.files.flatMap { spec =>
      val lower = spec.path.toLowerCase
      val compressedExt = lower.endsWith(".gz") || lower.endsWith(".zst")
      // bind-time length; -1 (unknown) disables splitting — no FS RPCs here
      val size = if (compressedExt || split <= 0) -1L else spec.length
      if (size > split) {
        val n = ((size + split - 1) / split).toInt
        (0 until n).map { i =>
          ZeekInputPartition(spec.copy(start = i * split,
            end = if (i == n - 1) -1L else (i + 1) * split)): InputPartition
        }
      } else Seq(ZeekInputPartition(spec): InputPartition)
    }.toArray
  }
}

/** Creates the zeek scan's one data reader,
  * [[ZeekColumnarPartitionReader]], for batch ([[ZeekScan]]) and
  * streaming ([[ZeekMicroBatchStream]]) scans alike; every scan shape
  * reads columnar. A pushed COUNT(*) has its own factory
  * ([[ZeekCountReaderFactory]]) because its output schema differs. */
final case class ZeekPartitionReaderFactory(
    boundHeader: ZeekHeader,
    dataSchema: StructType,
    opts: ZeekOptions,
    required: StructType,
    pushed: Array[Filter],
    conf: SerializableConf,
    limit: Int = -1) extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    throw new IllegalStateException(
      "zeek scans are columnar: every partition supports columnar reads, so Spark must call createColumnarReader")

  override def createColumnarReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new ZeekColumnarPartitionReader(partition.asInstanceOf[ZeekInputPartition].spec,
      boundHeader, dataSchema, opts, required, pushed, conf.value, limit)
}
