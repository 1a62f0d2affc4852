package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.Files
import java.util.concurrent.Executors
import java.util.zip.{Deflater, GZIPOutputStream}

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Seeded zeek log corpora plus the answers the benchmark checks ops
  * against. Every value is a function of (seed, file, row), so the files
  * and the statistics are the same whatever thread writes which file.
  *
  * Timestamps and intervals are whole multiples of 1/64 s: the text
  * then converts to micros exactly through the reader's double
  * arithmetic, so time sums can be checked exactly. */
object ZeekCorpus {
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private val Preamble =
    "#separator \\x09\n#set_separator\t,\n#empty_field\t(empty)\n#unset_field\t-\n"

  // ---- rotated conn logs ---------------------------------------------

  /** Union schema of the rotated conn logs: (column, aggregate kind).
    * Hours 12-23 add `ip_proto`, so hours 0-11 read it as NULL. */
  val ConnCols: Seq[(String, String)] = Seq(
    "ts" -> "time", "uid" -> "len", "id_orig_h" -> "len", "id_orig_p" -> "num",
    "id_resp_h" -> "len", "id_resp_p" -> "num", "proto" -> "len", "service" -> "len",
    "duration" -> "interval", "orig_bytes" -> "num", "resp_bytes" -> "num",
    "conn_state" -> "len", "local_orig" -> "bool", "missed_bytes" -> "num",
    "history" -> "len", "orig_pkts" -> "num", "resp_pkts" -> "num", "ip_proto" -> "num")
  private val ColIx = ConnCols.map(_._1).zipWithIndex.toMap
  val Hosts = 4096
  val TunnelPool = 1000
  val Protos: IndexedSeq[String] = IndexedSeq("tcp", "udp", "icmp")
  private val Services = Array("dns", "http", "ssl", "ssh")
  private val States = Array("SF", "S0", "RSTO")
  private val Histories = Array("ShADad", "S", "Dd", "ShAFf")
  private val RespPorts = Array(80, 443, 22, 8080)
  val NewColumnHour = 12
  /** Time sums are taken relative to this epoch second (no overflow). */
  val TsBase = 1768500000L

  def hostName(h: Int): String = s"10.0.${h >> 8}.${h & 255}"
  def connFile(hour: Int): String = f"conn.$hour%02d.log.gz"

  /** What one rotated file holds, for the checks. `agg` is (count,
    * sum) per ConnCols entry, in order. */
  final class ConnStats {
    var rows = 0L
    var rej = 0L
    val protoBytes = new Array[Long](Protos.length)
    val hostBytes = new Array[Long](Hosts)
    val agg = new Array[Long](2 * ConnCols.length)
    var listElems = 0L
    val listSeen = new java.util.BitSet(TunnelPool)

    def add(o: ConnStats): Unit = {
      rows += o.rows; rej += o.rej; listElems += o.listElems; listSeen.or(o.listSeen)
      for (i <- protoBytes.indices) protoBytes(i) += o.protoBytes(i)
      for (i <- hostBytes.indices) hostBytes(i) += o.hostBytes(i)
      for (i <- agg.indices) agg(i) += o.agg(i)
    }
    private[ZeekCorpus] def put(col: String, sum: Long): Unit = {
      val i = ColIx(col)
      agg(2 * i) += 1; agg(2 * i + 1) += sum
    }
    def serialize: String =
      (Seq(rows, rej) ++ protoBytes ++ hostBytes ++ agg :+ listElems).mkString(",") +
        ";" + listSeen.toLongArray.mkString(",")
  }
  object ConnStats {
    def parse(s: String): ConnStats = {
      val Array(nums, bits) = s.split(";", -1)
      val v = nums.split(",").map(_.toLong)
      val st = new ConnStats
      st.rows = v(0); st.rej = v(1)
      var k = 2
      def fill(a: Array[Long]): Unit = { System.arraycopy(v, k, a, 0, a.length); k += a.length }
      fill(st.protoBytes); fill(st.hostBytes); fill(st.agg)
      st.listElems = v(k)
      st.listSeen.or(java.util.BitSet.valueOf(
        if (bits.isEmpty) Array.empty[Long] else bits.split(",").map(_.toLong)))
      st
    }
  }

  private def connHeader(hour: Int): String = {
    val extra = hour >= NewColumnHour
    val fields = Seq("ts", "uid", "id.orig_h", "id.orig_p", "id.resp_h", "id.resp_p", "proto",
      "service", "duration", "orig_bytes", "resp_bytes", "conn_state", "local_orig",
      "missed_bytes", "history", "orig_pkts", "resp_pkts") ++
      (if (extra) Seq("ip_proto") else Nil) :+ "tunnel_parents"
    val types = Seq("time", "string", "addr", "port", "addr", "port", "enum", "string",
      "interval", "count", "count", "string", "bool", "count", "string", "count", "count") ++
      (if (extra) Seq("count") else Nil) :+ "set[string]"
    Preamble + f"#path\tconn\n#open\t2026-01-16-$hour%02d-00-00\n" +
      fields.mkString("#fields\t", "\t", "\n") + types.mkString("#types\t", "\t", "\n")
  }

  /** Writes one hour's rows to `out` and returns its statistics. */
  def writeConn(out: OutputStream, seed: Long, hour: Int, rows: Int): ConnStats = {
    val st = new ConnStats
    val extra = hour >= NewColumnHour
    out.write(connHeader(hour).getBytes(US_ASCII))
    val sb = new java.lang.StringBuilder(512)
    val base = TsBase + hour * 3600L
    var r = 0
    while (r < rows) {
      val m = mix64(seed * 1000003L + hour * 100000007L + r)
      val m2 = mix64(m)
      sb.setLength(0)
      val secs = base + r.toLong * 3600L / rows
      val k = (m & 63).toInt
      sb.append(secs).append('.').append(String.format("%06d", Int.box(k * 15625))).append('\t')
      st.put("ts", (secs - TsBase) * 1000000L + k * 15625L)
      val uid = "C" + java.lang.Long.toHexString(m2)
      sb.append(uid).append('\t'); st.put("uid", uid.length)
      val h = ((m >>> 8) % Hosts).toInt
      val host = hostName(h)
      sb.append(host).append('\t'); st.put("id_orig_h", host.length)
      val op = 1024 + ((m >>> 20) % 60000).toInt
      sb.append(op).append('\t'); st.put("id_orig_p", op)
      val resp = s"192.168.${(m2 >>> 32) & 255}.${(m2 >>> 40) & 255}"
      sb.append(resp).append('\t'); st.put("id_resp_h", resp.length)
      val pr = ((m >>> 48) % 20).toInt match { case x if x < 14 => 0; case x if x < 19 => 1; case _ => 2 }
      val rp = if (pr == 1) 53 else RespPorts(((m2 >>> 8) & 3).toInt)
      sb.append(rp).append('\t'); st.put("id_resp_p", rp)
      sb.append(Protos(pr)).append('\t'); st.put("proto", Protos(pr).length)
      if (((m >>> 52) & 7) == 0) sb.append("-\t")
      else {
        val s = Services(((m >>> 55) & 3).toInt)
        sb.append(s).append('\t'); st.put("service", s.length)
      }
      if (((m2 >>> 4) & 15) == 0) sb.append("-\t")
      else {
        val n = (m2 >>> 12) & 0xffff // n/64 seconds
        val us = n * 15625L
        sb.append(us / 1000000L).append('.').append(String.format("%06d", Long.box(us % 1000000L))).append('\t')
        st.put("duration", us)
      }
      val ob = (m >>> 16) & 0xfffff
      val rb = (m2 >>> 20) & 0xffffff
      sb.append(ob).append('\t').append(rb).append('\t')
      st.put("orig_bytes", ob); st.put("resp_bytes", rb)
      st.protoBytes(pr) += ob
      st.hostBytes(h) += ob + rb
      val state = if (m2 % 100 == 0) { st.rej += 1; "REJ" } else States(((m2 >>> 28) % 3).toInt)
      sb.append(state).append('\t'); st.put("conn_state", state.length)
      val lo = ((m2 >>> 30) & 1) == 1
      sb.append(if (lo) "T\t" else "F\t"); st.put("local_orig", if (lo) 1 else 0)
      val missed = if (((m2 >>> 33) & 31) == 0) (m2 >>> 40) & 0xfff else 0L
      sb.append(missed).append('\t'); st.put("missed_bytes", missed)
      val hist = Histories(((m2 >>> 44) & 3).toInt)
      sb.append(hist).append('\t'); st.put("history", hist.length)
      val opk = (m2 >>> 46) & 0xfff
      val rpk = (m2 >>> 52) & 0xfff
      sb.append(opk).append('\t').append(rpk).append('\t')
      st.put("orig_pkts", opk); st.put("resp_pkts", rpk)
      if (extra) {
        val ipp = pr match { case 0 => 6; case 1 => 17; case _ => 1 }
        sb.append(ipp).append('\t'); st.put("ip_proto", ipp)
      }
      val nt = ((m >>> 58) & 3).toInt // 0-3 tunnel parents; 0 → (empty)
      if (nt == 0) sb.append("(empty)")
      else {
        var j = 0
        while (j < nt) {
          val t = (mix64(m2 + j) % TunnelPool).toInt.abs
          if (j > 0) sb.append(',')
          sb.append('T').append(t)
          st.listSeen.set(t)
          j += 1
        }
        st.listElems += nt
      }
      sb.append('\n')
      out.write(sb.toString.getBytes(US_ASCII))
      st.rows += 1
      r += 1
    }
    st
  }

  def gzipOut(f: File): OutputStream =
    new GZIPOutputStream(new BufferedOutputStream(new FileOutputStream(f), 1 << 16), 1 << 16) {
      `def`.setLevel(Deflater.BEST_SPEED)
    }

  // ---- wide plain logs -----------------------------------------------

  val WideExtra = 116
  val WideFields: Int = 4 + WideExtra + 1
  val LateFilterValue = 7L

  def wideFile(i: Int): String = f"wide_$i%02d.log"

  /** One wide file's sums: ts micros, uid length, orig_h length,
    * orig_p, x0..x115, zlast, then rows and the late-filter hit count. */
  final class WideStats {
    val sums = new Array[Long](WideFields)
    var rows = 0L
    var lateHits = 0L
    def add(o: WideStats): Unit = {
      rows += o.rows; lateHits += o.lateHits
      for (i <- sums.indices) sums(i) += o.sums(i)
    }
    def serialize: String = (Seq(rows, lateHits) ++ sums).mkString(",")
  }
  object WideStats {
    def parse(s: String): WideStats = {
      val v = s.split(",").map(_.toLong)
      val st = new WideStats
      st.rows = v(0); st.lateHits = v(1)
      System.arraycopy(v, 2, st.sums, 0, st.sums.length)
      st
    }
  }

  val WideExtraNames: IndexedSeq[String] = (0 until WideExtra).map(i => s"x$i")

  def writeWide(out: OutputStream, seed: Long, file: Int, rows: Int): WideStats = {
    val st = new WideStats
    out.write((Preamble + "#path\twide\n#open\t2026-01-16-00-00-01\n" +
      (Seq("ts", "uid", "id.orig_h", "id.orig_p") ++ WideExtraNames :+ "zlast").mkString("#fields\t", "\t", "\n") +
      (Seq("time", "string", "addr", "port") ++ Seq.fill(WideExtra)("count") :+ "count")
        .mkString("#types\t", "\t", "\n")).getBytes(US_ASCII))
    val sb = new java.lang.StringBuilder(1024)
    var r = 0
    while (r < rows) {
      val m = mix64(seed * 7000003L + file * 100000007L + r)
      sb.setLength(0)
      val secs = TsBase + (file.toLong * rows + r) / 100
      val k = (m & 63).toInt
      sb.append(secs).append('.').append(String.format("%06d", Int.box(k * 15625))).append('\t')
      st.sums(0) += (secs - TsBase) * 1000000L + k * 15625L
      val uid = "C" + java.lang.Long.toHexString(m)
      sb.append(uid).append('\t'); st.sums(1) += uid.length
      val host = s"10.0.${(m >>> 8) & 255}.${m & 255}"
      sb.append(host).append('\t'); st.sums(2) += host.length
      val port = (m >>> 16) & 0xffff
      sb.append(port).append('\t'); st.sums(3) += port
      var i = 0
      while (i < WideExtra) {
        val v = (m >>> (i % 56)) & 127
        sb.append(v).append('\t')
        st.sums(4 + i) += v
        i += 1
      }
      val z = (mix64(m) & Long.MaxValue) % 1000
      sb.append(z).append('\n')
      st.sums(WideFields - 1) += z
      if (z == LateFilterValue) st.lateHits += 1
      out.write(sb.toString.getBytes(US_ASCII))
      st.rows += 1
      r += 1
    }
    st
  }

  // ---- corpus directories ---------------------------------------------

  /** A generated corpus: its directory and per-file statistics. */
  final case class Corpus(dir: String, files: IndexedSeq[String], stats: IndexedSeq[String]) {
    def path(i: Int): String = new File(dir, files(i)).getAbsolutePath
    def glob(suffix: String): String = new File(dir, "*" + suffix).getAbsolutePath
  }

  /** Generates `n` files with `write(out, i)` on `threads` threads, unless
    * the directory already holds a finished generation (its stats file
    * is written last). Returns the corpus and the seconds spent. */
  def ensure(dir: File, n: Int, name: Int => String, gz: Boolean, threads: Int)
      (write: (OutputStream, Int) => String): (Corpus, Double) = {
    val statsFile = new File(dir, "STATS")
    val files = (0 until n).map(name)
    if (statsFile.isFile) {
      val lines = Files.readAllLines(statsFile.toPath).toArray(new Array[String](0)).toIndexedSeq
      return (Corpus(dir.getAbsolutePath, files, lines), 0.0)
    }
    val t0 = System.nanoTime()
    deleteTree(dir)
    Files.createDirectories(dir.toPath)
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val stats = try {
      Await.result(Future.sequence((0 until n).map { i =>
        Future {
          val f = new File(dir, files(i))
          val out = if (gz) gzipOut(f) else new BufferedOutputStream(new FileOutputStream(f), 1 << 16)
          try write(out, i) finally out.close()
        }
      }), Duration.Inf)
    } finally pool.shutdown()
    Files.write(statsFile.toPath, stats.mkString("\n").getBytes(US_ASCII))
    (Corpus(dir.getAbsolutePath, files, stats.toIndexedSeq), (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def rotated(root: File, seed: Long, hours: Int, rowsPerHour: Int, threads: Int): (Corpus, Double) =
    ensure(new File(root, s"rows$rowsPerHour"), hours, connFile, gz = true, threads) { (out, h) =>
      writeConn(out, seed, h, rowsPerHour).serialize
    }

  def wide(root: File, seed: Long, files: Int, rowsPerFile: Int, threads: Int): (Corpus, Double) =
    ensure(new File(root, s"rows$rowsPerFile"), files, wideFile, gz = false, threads) { (out, i) =>
      writeWide(out, seed, i, rowsPerFile).serialize
    }

}
