package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import perfbench.ZeekCorpus._

/** One operation of a workload. A run of it is build (make a fresh
  * DataFrame; eager cut jobs run here), execute (the action), release
  * (free what the op cached). `check` compares the action's result with
  * the known answer; None means correct. */
trait Op {
  def name: String
  /** rows the op scans, for the scan-ladder rates (0 = not a scan) */
  def rows: Long
  def prepare(): Unit = ()
  def build(): DataFrame
  def execute(df: DataFrame, validate: Boolean): Any
  def check(result: Any, validate: Boolean): Option[String]
  def release(): Unit = ()
}

object Check {
  def longs(r: Row): Seq[Long] = (0 until r.length).map { i =>
    r.get(i) match {
      case null => Long.MinValue
      case d: java.time.Duration => d.getSeconds * 1000000L + d.getNano / 1000
      case n: java.lang.Number => n.longValue
      case v => throw new IllegalStateException(s"unexpected aggregate value $v")
    }
  }
  def same[A](what: String, got: A, want: A): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")
}

/** An op whose action collects a small result compared with `want`.
  * `before` runs untimed ahead of every run, as does the bind-cache
  * clear (bind cost must not depend on how ops happen to be spaced). */
final case class ZeekOp(name: String, rows: Long, mk: () => DataFrame,
    want: () => Any, act: DataFrame => Any, before: () => Unit = () => ()) extends Op {
  override def prepare(): Unit = { before(); graft.zeek.v2.ZeekDataSource.clearBindCache() }
  def build(): DataFrame = mk()
  def execute(df: DataFrame, validate: Boolean): Any = act(df)
  def check(result: Any, validate: Boolean): Option[String] = Check.same(name, result, want())
}

object ZeekWorkloads {
  private def rowsOf(r: Array[Row]): Seq[Seq[Long]] = r.toSeq.map(Check.longs)

  /** count + sum per ConnCols entry, in ConnCols order. */
  def fullParseAgg(df: DataFrame): DataFrame = {
    val aggs = ConnCols.flatMap { case (c, kind) =>
      val v = kind match {
        case "time" => unix_micros(col(c)) - TsBase * 1000000L
        case "len" => length(col(c)).cast("long")
        case "bool" => col(c).cast("long")
        case _ => col(c)
      }
      Seq(count(col(c)), sum(v))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** ConnStats.agg as the aggregate returns it: sums over zero values are NULL. */
  private def wantAgg(st: ConnStats): Seq[Long] =
    st.agg.indices.map(i => if (i % 2 == 1 && st.agg(i - 1) == 0) Long.MinValue else st.agg(i))

  /** `zeek_rotated_gz`: 24 hourly gzip conn logs in two header layouts. */
  def rotated(spark: SparkSession, corpus: Corpus, work: File): Seq[Op] = {
    val stats = corpus.stats.map(ConnStats.parse)
    val all = new ConnStats; stats.foreach(all.add)
    def sub(hours: Seq[Int]) = { val s = new ConnStats; hours.foreach(h => s.add(stats(h))); s }
    val total = all.rows
    def read(filename: Boolean = false) = spark.read.format("zeek")
      .option("union_by_name", "true").option("filename", filename.toString)
    def base() = read().load(corpus.glob(".log.gz"))
    val pruneHours = Seq(5, 13, 21)
    val sinkHours = Seq(2, 9, 14, 19)
    val partsDir = new File(work, "sink_parts").getAbsolutePath
    // zstd_scan reads parts written once per corpus, untimed, by the same
    // sink, so it does not depend on where sink_write falls in the order
    val zstdDir = new File(corpus.dir, "zstd_input")
    def writeParts(dir: String): Unit =
      read().load(sinkHours.map(corpus.path): _*)
        .write.format("zeek").mode("overwrite").option("compression", "zstd").save(dir)
    val top = all.hostBytes.indices.map(h => (hostName(h), all.hostBytes(h)))
      .sortBy { case (n, b) => (-b, n) }.take(10)

    Seq(
      ZeekOp("count", total, () => base(), () => total, _.count()),
      ZeekOp("filter_count", total, () => base().filter(col("conn_state") === "REJ"),
        () => all.rej, _.count()),
      ZeekOp("early_proj_agg", total,
        () => base().groupBy(col("proto")).agg(sum(col("orig_bytes"))),
        () => Protos.indices.map(i => Protos(i) -> all.protoBytes(i)).filter(_._2 > 0).toMap,
        _.collect().map(r => r.getString(0) -> r.getLong(1)).toMap),
      ZeekOp("full_parse_agg", total, () => fullParseAgg(base()),
        () => Seq(wantAgg(all)), df => rowsOf(df.collect())),
      ZeekOp("top_talkers", total,
        () => base().groupBy(col("id_orig_h"))
          .agg(sum(col("orig_bytes") + col("resp_bytes")).as("b"))
          .orderBy(col("b").desc, col("id_orig_h")).limit(10),
        () => top, _.collect().toSeq.map(r => (r.getString(0), r.getLong(1)))),
      ZeekOp("list_col", total,
        () => base().select(explode(col("tunnel_parents")).as("t"))
          .agg(count(lit(1)), countDistinct(col("t"))),
        () => Seq(Seq(all.listElems, all.listSeen.cardinality.toLong)), df => rowsOf(df.collect())),
      ZeekOp("filename_prune", total, () => {
          val files = pruneHours.map(h => graft.zeek.ZeekIO.displayPath("file:" + corpus.path(h)))
          read(filename = true).load(corpus.glob(".log.gz"))
            .filter(col("filename").isin(files: _*))
            .agg(count(lit(1)), sum(col("orig_bytes")))
        },
        () => { val s = sub(pruneHours); Seq(Seq(s.rows, s.agg(2 * 9 + 1))) },
        df => rowsOf(df.collect())),
      new Op {
        val name = "sink_write"
        val rows: Long = sub(sinkHours).rows
        // the previous parts are deleted here, untimed: deletes are slow
        // on some disks and are not the sink's work
        override def prepare(): Unit = {
          deleteTree(new File(partsDir))
          graft.zeek.v2.ZeekDataSource.clearBindCache()
        }
        def build(): DataFrame = read().load(sinkHours.map(corpus.path): _*)
        def execute(df: DataFrame, validate: Boolean): Any = {
          df.write.format("zeek").mode("overwrite").option("compression", "zstd").save(partsDir)
          Option(new File(partsDir).listFiles()).toSeq.flatten.count(_.getName.endsWith(".zst"))
        }
        def check(result: Any, validate: Boolean): Option[String] =
          if (result.asInstanceOf[Int] == sinkHours.length) None
          else Some(s"sink_write: $result zstd parts, want ${sinkHours.length}")
      },
      ZeekOp("zstd_scan", sub(sinkHours).rows,
        () => fullParseAgg(read().load(new File(zstdDir, "*.zst").getAbsolutePath)),
        () => Seq(wantAgg(sub(sinkHours))), df => rowsOf(df.collect()),
        before = () =>
          if (!Option(zstdDir.list()).exists(_.exists(_.endsWith(".zst")))) writeParts(zstdDir.getAbsolutePath)))
  }

  /** `zeek_wide_plain`: uncompressed, splittable logs of 121 fields. */
  def wide(spark: SparkSession, corpus: Corpus): Seq[Op] = {
    val all = new WideStats
    corpus.stats.map(WideStats.parse).foreach(all.add)
    val n = all.rows
    def base() = spark.read.format("zeek").load(corpus.glob(".log"))
    val lastIdx = WideFields - 1
    Seq(
      ZeekOp("count", n, () => base(), () => n, _.count()),
      ZeekOp("early_1col", n, () => base().agg(sum(col("id_orig_p"))),
        () => all.sums(3), _.head.getLong(0)),
      ZeekOp("late_1col", n, () => base().agg(sum(col("zlast"))),
        () => all.sums(lastIdx), _.head.getLong(0)),
      ZeekOp("full_width", n, () => {
          val aggs = Seq(sum(unix_micros(col("ts")) - TsBase * 1000000L), sum(length(col("uid")).cast("long")),
            sum(length(col("id_orig_h")).cast("long")), sum(col("id_orig_p"))) ++
            (WideExtraNames :+ "zlast").map(c => sum(col(c)))
          base().agg(aggs.head, aggs.tail: _*)
        }, () => all.sums.toSeq, df => Check.longs(df.head)),
      ZeekOp("late_filter", n, () => base().filter(col("zlast") === LateFilterValue),
        () => all.lateHits, _.count()),
      ZeekOp("limit_100", 100, () => base().limit(100),
        () => (100, true), df => {
          val r = df.collect()
          (r.length, r.forall(row => !row.isNullAt(lastIdx) && row.getLong(lastIdx) < 1000))
        }))
  }
}

/** The headline queries `graft.Bench` times, each written to the
  * `noop` sink; the validation pass collects and hashes them instead. */
object ContractWorkload {
  val headline: Seq[String] = graft.Bench.headline

  final case class Pin(rows: Long, hash: String, source: String)

  def pins(file: File): Map[String, Pin] = {
    val src = scala.io.Source.fromFile(file, "UTF-8")
    try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
      val Array(name, rows, hash, source) = l.split("\t")
      name -> Pin(rows.toLong, hash, source)
    }.toMap finally src.close()
  }

  def ops(spark: SparkSession, dir: String, pins: Map[String, Pin]): Seq[Op] =
    headline.map { q =>
      new Op {
        val name: String = q
        val rows = 0L
        def build(): DataFrame = graft.SparkEntry.queries(q)(spark, dir)
        def execute(df: DataFrame, validate: Boolean): Any =
          if (validate) Canon.hash(df)
          else { df.write.format("noop").mode("overwrite").save(); () }
        def check(result: Any, validate: Boolean): Option[String] =
          if (!validate) None
          else {
            val (rows, hash) = result.asInstanceOf[(Long, String)]
            pins.get(q) match {
              case None => Some(s"$q: no pinned hash")
              case Some(p) if p.rows == rows && p.hash == hash => None
              case Some(p) => Some(s"$q: $rows rows hash $hash, pinned ${p.rows} rows hash ${p.hash}")
            }
          }
        override def release(): Unit = {
          graft.operators.GlobalRank.releasePins()
          graft.operators.Lineage.releaseAll(spark, alsoCheckpoints = true)
        }
      }
    }
}

/** Order- and partitioning-independent result hash: columns sorted by
  * name, each row rendered as text with floating-point values rounded to
  * 9 significant digits (last-bit differences between shuffle fetch
  * orders are not errors), rows sorted, SHA-256 over the lines. */
object Canon {
  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString
    case f: Float => render(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }
      .sorted.mkString("{", ",", "}")
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case x => x.toString
  }

  def hash(df: DataFrame): (Long, String) = {
    val names = df.columns.toSeq
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = df.collect().map(r => order.map(i => render(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(names).mkString("|").getBytes("UTF-8"))
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    (lines.length.toLong, md.digest().take(8).map("%02x".format(_)).mkString)
  }
}
