package perfbench

import java.io.{ByteArrayInputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.zeek._

/** In-memory spans, written out at the end. Times are epoch ms. */
final class Tracer {
  final case class Span(id: Int, parent: Int, name: String, kind: String, start: Double, end: Double)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def nowMs(nanos: Long): Double = wall0 + (nanos - nano0) / 1e6
  def newId(): Int = ids.incrementAndGet()
  def add(id: Int, parent: Int, name: String, kind: String, start: Double, end: Double): Unit =
    spans.add(Span(id, parent, name, kind, start, end))

  /** Times `body` as a span under `parent`; `body` gets the span's id. */
  def span[A](parent: Int, name: String, kind: String)(body: Int => A): A = {
    val id = newId()
    val t0 = System.nanoTime()
    try body(id) finally add(id, parent, name, kind, nowMs(t0), nowMs(System.nanoTime()))
  }

  /** Self time: duration minus the union of the children's intervals,
    * clipped to the span. */
  def selfTimes(): Seq[(Span, Double)] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      (s, (s.end - s.start) - covered)
    }
  }

  def write(f: File): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val body = selfTimes().sortBy(_._1.id).map { case (s, self) =>
      f"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},"kind":${q(s.kind)},"start_ms":${s.start}%.3f,"dur_ms":${s.end - s.start}%.3f,"self_ms":$self%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(f.toPath, body.getBytes(UTF_8))
  }
}

/** Spark-side measurement through the public listener APIs. Jobs are
  * attributed to an op by the job group the op sets (`pb-<span>-build`
  * or `pb-<span>-exec`), so jobs run while the DataFrame is built (eager
  * lineage cuts) count too; planning phases are attributed by time. */
final class SparkProbe(spark: SparkSession, tracer: Tracer) {
  final class Acc {
    var jobs = 0; var stages = 0; var tasks = 0
    var taskMs = 0L; var maxTaskMs = 0L; var gcMs = 0L
    var shufR = 0L; var shufW = 0L; var input = 0L
  }
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageJobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Int, Double)]()
  private val started = new AtomicInteger(0)
  private val ended = new AtomicInteger(0)
  private val lastEvent = new AtomicLong(System.nanoTime())
  /** (earliest phase start ms, analysis ms, optimization ms, planning ms) */
  val phases = new ConcurrentLinkedQueue[(Double, Double, Double, Double)]()

  private def acc(g: String) = byGroup.computeIfAbsent(g, _ => new Acc)
  private def parentSpan(g: String): Int = g.split("-")(1).toInt

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEvent.set(System.nanoTime()); started.incrementAndGet()
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith("pb-")) {
        synchronized { acc(g).jobs += 1 }
        val id = tracer.newId()
        jobSpan.put(e.jobId, (id, parentSpan(g), e.time.toDouble))
        e.stageInfos.foreach { s => stageGroup.putIfAbsent(s.stageId, g); stageJobSpan.putIfAbsent(s.stageId, id) }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEvent.set(System.nanoTime()); ended.incrementAndGet()
      Option(jobSpan.remove(e.jobId)).foreach { case (id, parent, start) =>
        tracer.add(id, parent, s"job ${e.jobId}", "job", start, e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      lastEvent.set(System.nanoTime())
      val i = e.stageInfo
      Option(stageGroup.get(i.stageId)).foreach { g =>
        synchronized { acc(g).stages += 1 }
        for (a <- i.submissionTime; b <- i.completionTime)
          tracer.add(tracer.newId(), stageJobSpan.get(i.stageId), s"stage ${i.stageId}", "stage", a.toDouble, b.toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEvent.set(System.nanoTime())
      val m = e.taskMetrics
      Option(stageGroup.get(e.stageId)).filter(_ => m != null).foreach { g =>
        synchronized {
          val a = acc(g)
          a.tasks += 1
          a.taskMs += m.executorRunTime
          a.maxTaskMs = math.max(a.maxTaskMs, e.taskInfo.duration)
          a.gcMs += m.jvmGCTime
          a.shufR += m.shuffleReadMetrics.totalBytesRead
          a.shufW += m.shuffleWriteMetrics.bytesWritten
          a.input += m.inputMetrics.bytesRead
        }
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      lastEvent.set(System.nanoTime())
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        def d(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
        phases.add((ph.values.map(_.startTimeMs).min.toDouble, d("analysis"), d("optimization"), d("planning")))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }
  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Runs `body` under job group `pb-<span>-<phase>`. */
  def inGroup[A](span: Int, phase: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"pb-$span-$phase", phase, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  /** Waits until the listener bus has delivered every job end and has
    * been quiet for 200 ms (bounded at 10 s). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
      (started.get != ended.get || System.nanoTime() - lastEvent.get < 200000000L)) Thread.sleep(20)
  }

  def group(span: Int, phase: String): Acc = Option(byGroup.get(s"pb-$span-$phase")).getOrElse(new Acc)
}

/** Single-thread timing of `graft.zeek` and `graft.zeek.v2` calls in
  * the benchmark's own thread, over files held in memory or in the page
  * cache. Each probe
  * repeats its call until at least `minSec` has passed and reports the
  * rate of the fastest repetition. */
final class FormatLadder(tracer: Tracer, parent: Int, minSec: Double = 0.3) {
  private val conf = new org.apache.hadoop.conf.Configuration()

  private def best(name: String)(once: => Long): (Double, Long) =
    tracer.span(parent, name, "ladder") { _ =>
      var bestS = Double.MaxValue; var units = 0L
      val stop = System.nanoTime() + (minSec * 1e9).toLong
      var n = 0
      while (n < 3 || System.nanoTime() < stop) {
        val t0 = System.nanoTime()
        units = once
        bestS = math.min(bestS, (System.nanoTime() - t0) / 1e9)
        n += 1
      }
      (bestS, units)
    }

  private def drainBytes(path: String): Long = {
    val in = ZeekIO.open(path, conf)
    try {
      val buf = new Array[Byte](1 << 16); var n = 0L; var r = in.read(buf)
      while (r >= 0) { n += r; r = in.read(buf) }
      n
    } finally in.close()
  }

  private def slurp(path: String): Array[Byte] = {
    val in = ZeekIO.open(path, conf)
    try in.readAllBytes() finally in.close()
  }

  /** (start, end) of every data line of a decompressed log. */
  private def dataLines(bytes: Array[Byte]): Array[(Int, Int)] = {
    val r = new ByteLineReader(new ByteArrayInputStream(bytes))
    val out = mutable.ArrayBuffer.empty[(Int, Int)]
    // the reader fills its own buffer; lineOffset is the line's offset
    // in the stream, which here is its index in `bytes`
    while (r.next()) {
      val off = r.lineOffset.toInt
      if (r.lineEnd > r.lineStart && bytes(off) != '#') out += ((off, off + (r.lineEnd - r.lineStart)))
    }
    out.toArray
  }

  def bind(glob: String): (Double, Int) = {
    val opts = ZeekOptions(unionByName = true)
    val times = (1 to 5).map { _ =>
      tracer.span(parent, "ZeekSchema.bind", "ladder") { _ =>
        val t0 = System.nanoTime(); ZeekSchema.bind(Seq(glob), opts, conf); (System.nanoTime() - t0) / 1e6
      }
    }.sorted
    (times(2), ZeekSchema.bind(Seq(glob), opts, conf).files.length)
  }

  def decompressMbPerS(path: String): Double = {
    val (s, bytes) = best("ZeekIO.open")(drainBytes(path))
    bytes / 1e6 / s
  }

  def lineSplitMbPerS(path: String): Double = {
    val bytes = slurp(path)
    val (s, _) = best("ByteLineReader.next") {
      val r = new ByteLineReader(new ByteArrayInputStream(bytes)); var n = 0L
      while (r.next()) n += 1
      n
    }
    bytes.length / 1e6 / s
  }

  /** Token (start, end) per field per data line, header types, bytes. */
  private def tokens(path: String): (Array[Byte], IndexedSeq[String], Array[Array[Int]]) = {
    val bytes = slurp(path)
    val header = {
      val in = ZeekIO.open(path, conf)
      try ZeekHeader.parseHeaderOnly(in) finally in.close()
    }
    val nf = header.types.length
    val toks = dataLines(bytes).map { case (s, e) =>
      val t = new Array[Int](2 * nf); var f = 0; var st = s; var i = s
      while (i <= e && f < nf) {
        if (i == e || bytes(i) == '\t') { t(2 * f) = st; t(2 * f + 1) = i; f += 1; st = i + 1 }
        i += 1
      }
      t
    }
    (bytes, header.types, toks)
  }

  private val unset = "-".getBytes(UTF_8)
  private val empty = "(empty)".getBytes(UTF_8)
  private val listParser =
    new ZeekTypes.ListParser(ZeekTypes.parserFor("string"), ",".getBytes(UTF_8), unset, empty)
  private def isMarker(b: Array[Byte], s: Int, e: Int): Boolean =
    ZeekTypes.sliceEquals(b, s, e, unset) || ZeekTypes.sliceEquals(b, s, e, empty)

  /** Scalar parse rate (Mvalues/s) and list parse rate (Mcells/s). */
  def parseRates(path: String): (Double, Double) = {
    val (bytes, types, toks) = tokens(path)
    val scalar = types.indices.filterNot(i => types(i).startsWith("set[") || types(i).startsWith("vector["))
    val lists = types.indices.filterNot(scalar.contains)
    val parsers = types.map(ZeekTypes.parserFor)
    val (s1, n1) = best("ZeekTypes.parserFor") {
      var n = 0L; var r = 0
      while (r < toks.length) {
        val t = toks(r)
        scalar.foreach { f =>
          val s = t(2 * f); val e = t(2 * f + 1)
          if (!isMarker(bytes, s, e)) { parsers(f)(bytes, s, e); n += 1 }
        }
        r += 1
      }
      n
    }
    val (s2, n2) = best("ListParser.parse") {
      var n = 0L; var r = 0
      while (r < toks.length) {
        val t = toks(r)
        lists.foreach { f => listParser.parse(bytes, t(2 * f), t(2 * f + 1)); n += 1 }
        r += 1
      }
      n
    }
    (n1 / 1e6 / s1, n2 / 1e6 / s2)
  }

  /** ZeekWriteCore.renderRow rate over the rows of one file, MB/s of text. */
  def renderMbPerS(path: String): Double = {
    val (bytes, types, toks) = tokens(path)
    val schema: StructType = ZeekSchema.bind(Seq(path), ZeekOptions(), conf).dataSchema
    val parsers = types.map(ZeekTypes.parserFor)
    val rows = toks.map { t =>
      new GenericInternalRow(types.indices.map { f =>
        val s = t(2 * f); val e = t(2 * f + 1)
        if (types(f).startsWith("set[")) listParser.parse(bytes, s, e)
        else if (isMarker(bytes, s, e)) null
        else parsers(f)(bytes, s, e)
      }.toArray[Any])
    }
    val cols = ZeekWriteCore.columns(schema)
    val (s, chars) = best("ZeekWriteCore.renderRow") {
      var n = 0L; var i = 0
      while (i < rows.length) { n += ZeekWriteCore.renderRow(cols, rows(i)).length; i += 1 }
      n
    }
    chars / 1e6 / s
  }

  /** ZeekProjection.tokenize rate (MB/s of line bytes) with `nReq` of
    * the file's fields projected (all of them when nReq <= 0). */
  def tokenizeMbPerS(path: String, nReq: Int): Double = {
    val b = ZeekSchema.bind(Seq(path), ZeekOptions(), conf)
    val required = if (nReq <= 0) b.dataSchema else StructType(b.dataSchema.fields.take(nReq))
    val bytes = slurp(path)
    val lines = dataLines(bytes)
    val proj = new graft.zeek.v2.ZeekProjection(b.files.head, b.header, b.dataSchema, b.opts, required, b.header)
    val lineBytes = lines.map(x => (x._2 - x._1).toLong).sum
    val label = if (nReq <= 0) "ZeekProjection.tokenize full" else s"ZeekProjection.tokenize first $nReq"
    val (s, _) = best(label) {
      var n = 0L; var i = 0
      while (i < lines.length) { n += proj.tokenize(bytes, lines(i)._1, lines(i)._2); i += 1 }
      n
    }
    lineBytes / 1e6 / s
  }
}

/** The ladders a traced run adds after its passes, over the small
  * seeded corpora (the same for every workload): every zeek op of both
  * zeek workloads through Spark (`zeek_v2.*`), then single-thread calls
  * into the format layer (`zeek.*`) and the tokenizer. */
final class Ladder(spark: SparkSession, tracer: Tracer, work: File) {
  private val top = tracer.newId()
  private val sinkDir = new File(work, "sink/ladder")

  /** Each op runs twice; the second run is reported. */
  def scan(gz: ZeekCorpus.Corpus, wide: ZeekCorpus.Corpus): Seq[(String, (Double, String))] = {
    val ops = ZeekWorkloads.rotated(spark, gz, sinkDir).map("gz_" -> _) ++
      ZeekWorkloads.wide(spark, wide).map("wide_" -> _)
    ops.flatMap { case (prefix, op) =>
      var wall = 0.0
      for (_ <- 1 to 2) tracer.span(top, s"scan ${prefix}${op.name}", "ladder") { _ =>
        op.prepare()
        val t0 = System.nanoTime()
        val r = op.execute(op.build(), validate = true)
        wall = (System.nanoTime() - t0) / 1e9
        op.check(r, validate = true).foreach(m => throw new IllegalStateException(s"ladder: $m"))
      }
      Seq(s"zeek_v2.$prefix${op.name}_s" -> (wall, "s"),
        s"zeek_v2.$prefix${op.name}_mrows_per_s" -> (op.rows / wall / 1e6, "Mrows/s"))
    }
  }

  def format(gz: ZeekCorpus.Corpus, wide: ZeekCorpus.Corpus): Seq[(String, (Double, String))] = {
    val f = new FormatLadder(tracer, top)
    // an hour with the added column, so every conn type is present
    val gzFile = "file:" + gz.path(ZeekCorpus.NewColumnHour)
    val zstFile = "file:" + Option(new File(gz.dir, "zstd_input").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".zst")).map(_.getAbsolutePath).sorted.head
    val wideFile = "file:" + wide.path(0)
    val (bindMs, bindFiles) = f.bind(gz.glob(".log.gz"))
    val (parse, listParse) = f.parseRates(gzFile)
    Seq(
      "zeek.bind_ms" -> (bindMs, "ms"),
      "zeek.bind_files" -> (bindFiles.toDouble, "count"),
      "zeek.decompress_gzip_mb_per_s" -> (f.decompressMbPerS(gzFile), "MB/s"),
      "zeek.decompress_zstd_mb_per_s" -> (f.decompressMbPerS(zstFile), "MB/s"),
      "zeek.linesplit_mb_per_s" -> (f.lineSplitMbPerS(gzFile), "MB/s"),
      "zeek.parse_mvalues_per_s" -> (parse, "Mvalues/s"),
      "zeek.list_parse_mvalues_per_s" -> (listParse, "Mvalues/s"),
      "zeek.render_mb_per_s" -> (f.renderMbPerS(gzFile), "MB/s"),
      "zeek_v2.tokenize_full_mb_per_s" -> (f.tokenizeMbPerS(wideFile, 0), "MB/s"),
      "zeek_v2.tokenize_early_mb_per_s" -> (f.tokenizeMbPerS(wideFile, 4), "MB/s"))
  }

  /** Input partitions Spark plans for a zeek read of `glob`. */
  def partitions(glob: String): Int = {
    graft.zeek.v2.ZeekDataSource.clearBindCache()
    spark.read.format("zeek").option("union_by_name", "true").load(glob).rdd.getNumPartitions
  }
}
