package graft.zeek

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference user's actual detection workflows, end-to-end on this
  * engine: zeek source → DataFrame analytics (top talkers, port-scan
  * fan-out, C2 beaconing via inter-arrival CV — the q125 formula). The
  * conn.log is generated with PLANTED behaviors, so every detection has
  * a known ground truth instead of a golden blob.
  */
class ZeekAnalyticsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private val t0 = 1768539600L

  private def connRow(ts: String, uid: String, origH: String, origP: Int,
      respH: String, respP: Int): String =
    ZeekFixtures.row(ts, uid, origH, origP.toString, respH, respP.toString,
      "tcp", "0.5", "100", "4", "T", "0.5", "a,b", "0.1,0.2")

  /** beacon: 10.0.0.5 → 203.0.113.7:443 every EXACTLY 60 s (20 conns);
    * browser: 10.0.0.6 → 198.51.100.9 with bursty human gaps (12 conns);
    * scanner: 10.0.0.7 → 10.0.0.99, one conn per port 1000-1029. */
  private def plantedLog(): String = {
    val sb = new StringBuilder(
      ZeekFixtures.header("conn", ZeekFixtures.connFields, ZeekFixtures.connTypes))
    for (i <- 0 until 20)
      sb.append(connRow(s"${t0 + 60L * i}.000000", f"Cbeacon$i%04d",
        "10.0.0.5", 40000 + i, "203.0.113.7", 443))
    val humanGaps = Seq(0L, 7L, 137L, 159L, 464L, 505L, 814L, 1250L, 1287L, 2120L, 2141L, 3600L)
    for ((off, i) <- humanGaps.zipWithIndex)
      sb.append(connRow(s"${t0 + off}.000000", f"Chuman$i%05d",
        "10.0.0.6", 50000 + i, "198.51.100.9", 443))
    for (p <- 1000 until 1030)
      sb.append(connRow(s"${t0 + (p - 1000)}.250000", f"Cscan$p%05d",
        "10.0.0.7", 55555, "10.0.0.99", p))
    sb.toString
  }

  private def conns() = {
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "conn.log.gz", plantedLog(), gzip = true)
    spark.read.format("zeek").load(dir.toString)
  }

  test("top talkers: connection counts per originator, scan host first") {
    val top = conns().groupBy(col("id_orig_h")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("id_orig_h"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top.toSeq == Seq(("10.0.0.7", 30L), ("10.0.0.5", 20L), ("10.0.0.6", 12L)))
  }

  test("port-scan fan-out: distinct destination ports per (orig, resp) pair flags only the scanner") {
    val flagged = conns()
      .groupBy(col("id_orig_h"), col("id_resp_h"))
      .agg(countDistinct(col("id_resp_p")).as("n_ports"))
      .filter(col("n_ports") >= 20)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(flagged.toSeq == Seq(("10.0.0.7", "10.0.0.99", 30L)))
  }

  test("beaconing: inter-arrival CV separates the 60s-metronome C2 from human browsing") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val w = Window.partitionBy(col("id_orig_h"), col("id_resp_h"))
      .orderBy(col("tus"), col("uid"))
    val cv = conns()
      .withColumn("tus", unix_micros(col("ts")))
      .withColumn("gap", col("tus") - lag(col("tus"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy(col("id_orig_h"), col("id_resp_h"))
      .agg(count(lit(1)).as("n"), sum(col("gap")).as("s1"),
        sum(col("gap").cast(DecimalType(38, 0)) * col("gap").cast(DecimalType(38, 0))).as("s2"))
      .filter(col("n") >= 10)
      .withColumn("mean", col("s1").cast(DoubleType) / col("n"))
      .withColumn("cv", sqrt((col("s2").cast(DoubleType) -
        col("s1").cast(DoubleType) * col("s1").cast(DoubleType) / col("n")) / (col("n") - 1)) /
        col("mean"))
      .select(col("id_orig_h"), col("cv"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(cv("10.0.0.5") < 1e-9, s"beacon CV should be ~0, got ${cv("10.0.0.5")}")
    assert(cv("10.0.0.6") > 0.3, s"human CV should be bursty, got ${cv("10.0.0.6")}")
    // the port scanner is ALSO machine-timed (1 s metronome) — a CV
    // detector correctly surfaces every automated cadence, human never
    val beacons = cv.filter(_._2 < 0.1).keySet
    assert(beacons == Set("10.0.0.5", "10.0.0.7"))
  }

  test("dns tunneling: subdomain cardinality + length + entropy flags only the exfil domain") {
    import org.apache.spark.sql.types._
    // tunnel: 10.0.0.8 asks 40 DISTINCT long hex labels under
    // exfil.example.com (DNS-tunnel exfil shape); normal: 10.0.0.9 asks
    // a handful of short human names repeatedly
    val dnsFields = Seq("ts", "uid", "id.orig_h", "id.orig_p", "id.resp_h",
      "id.resp_p", "proto", "query", "qtype_name")
    val dnsTypes = Seq("time", "string", "addr", "port", "addr", "port",
      "enum", "string", "string")
    val rnd = new scala.util.Random(42)
    val sb = new StringBuilder(ZeekFixtures.header("dns", dnsFields, dnsTypes))
    for (i <- 0 until 40) {
      val label = (0 until 36).map(_ => "0123456789abcdef"(rnd.nextInt(16))).mkString
      sb.append(ZeekFixtures.row(s"${t0 + i}.000000", f"Dtun$i%05d",
        "10.0.0.8", "53533", "192.0.2.53", "53", "udp",
        s"$label.exfil.example.com", "TXT"))
    }
    val human = Seq("www.google.com", "mail.google.com", "www.google.com",
      "calendar.google.com", "www.google.com", "mail.google.com")
    for ((q, i) <- human.zipWithIndex)
      sb.append(ZeekFixtures.row(s"${t0 + 100 + i}.000000", f"Dhum$i%06d",
        "10.0.0.9", "53534", "192.0.2.53", "53", "udp", q, "A"))
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "dns.log.gz", sb.toString, gzip = true)

    val dns = spark.read.format("zeek").load(dir.toString)
      .withColumn("parts", split(col("query"), "\\."))
      .withColumn("sld", expr("concat_ws('.', slice(parts, -2, 2))"))
      .withColumn("sub", expr("concat_ws('.', slice(parts, 1, greatest(size(parts) - 2, 0)))"))
    val card = dns.groupBy(col("id_orig_h"), col("sld"))
      .agg(countDistinct(col("sub")).as("n_subs"),
        avg(length(col("sub"))).as("avg_len"), count(lit(1)).as("n_q"))
    // character-level Shannon entropy of the subdomain stream per domain
    val ent = dns.select(col("id_orig_h"), col("sld"),
        explode(split(col("sub"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("id_orig_h"), col("sld"), col("ch")).agg(count(lit(1)).as("c"))
      .groupBy(col("id_orig_h"), col("sld"))
      .agg(sum(col("c")).as("tot"), sum(col("c") * log(col("c"))).as("clogc"))
      .withColumn("entropy",
        log(col("tot").cast(DoubleType)) - col("clogc") / col("tot"))
    val flagged = card.join(ent, Seq("id_orig_h", "sld"))
      .filter(col("n_subs") >= 20 && col("avg_len") >= 20 && col("entropy") >= 2.0)
      .select(col("id_orig_h"), col("sld"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(flagged.toSeq == Seq(("10.0.0.8", "example.com")),
      s"only the tunnel flags: ${flagged.toSeq}")
    // the human domain's stats stay benign on every axis
    val g = card.filter(col("id_orig_h") === "10.0.0.9").collect().head
    assert(g.getAs[Long]("n_subs") <= 3 && g.getAs[Double]("avg_len") < 10)
  }

  test("data exfil: upload-volume asymmetry flags only the bulk uploader") {
    import org.apache.spark.sql.types._
    // exfil: 10.0.0.9 pushes 5 MB per conn to one staging host, 15
    // conns a minute apart; normal: browsing-sized uploads to varied
    // destinations, plus ONE big single-shot backup (below the
    // sustained-count threshold — volume alone must not flag it)
    def bRow(ts: String, uid: String, origH: String, respH: String, bytes: Long) =
      ZeekFixtures.row(ts, uid, origH, "44444", respH, "443",
        "tcp", "1.5", bytes.toString, "40", "T", "0.5", "a,b", "0.1,0.2")
    val sb = new StringBuilder(
      ZeekFixtures.header("conn", ZeekFixtures.connFields, ZeekFixtures.connTypes))
    for (i <- 0 until 15)
      sb.append(bRow(s"${t0 + 60L * i}.000000", f"Cexfil$i%04d",
        "10.0.0.9", "198.51.100.77", 5000000L))
    for (i <- 0 until 20)
      sb.append(bRow(s"${t0 + 13L * i}.000000", f"Cnorm$i%05d",
        "10.0.0.10", s"203.0.113.${i % 5}", 900L + i))
    sb.append(bRow(s"$t0.500000", "Cbackup0000", "10.0.0.11", "203.0.113.250", 50000000L))
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "conn.log.gz", sb.toString, gzip = true)

    val conns = spark.read.format("zeek").load(dir.toString)
    val perPair = conns.groupBy(col("id_orig_h"), col("id_resp_h"))
      .agg(sum(col("orig_bytes")).as("up_bytes"), count(lit(1)).as("n_conns"))
    val flagged = perPair
      .filter(col("up_bytes") >= 10000000L && col("n_conns") >= 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // planted ground truth: exactly 15 × 5 MB to the staging host
    assert(flagged.toSeq == Seq(("10.0.0.9", "198.51.100.77", 75000000L, 15L)),
      s"flags: ${flagged.toSeq}")
    // the one-shot backup trips volume but not the sustained-count test
    val backup = perPair.filter(col("id_orig_h") === "10.0.0.11").collect().head
    assert(backup.getLong(2) >= 10000000L && backup.getLong(3) < 10)
    // browsing traffic is orders of magnitude below the volume bar
    val norm = perPair.filter(col("id_orig_h") === "10.0.0.10")
      .agg(sum(col("up_bytes"))).collect().head.getLong(0)
    assert(norm < 100000L)
  }

  private val refData = "/root/reference/data"
  private def have = new java.io.File(refData).isDirectory

  /** Device tracking over dhcp.log: per MAC, how many leases, does the
    * device keep its address, how many ACKed handshakes, how many
    * connections — list (set/vector) columns in an analytics aggregate.
    * Value: (leases, distinct assigned addresses, ACKs, connections). */
  private def leaseChurn(path: String): Map[String, (Long, Long, Long, Long)] = {
    import org.apache.spark.sql.types._
    spark.read.format("zeek").load(path)
      .filter(col("mac").isNotNull)
      .groupBy(col("mac"))
      .agg(count(lit(1)).as("n_leases"),
        countDistinct(col("assigned_addr")).as("n_addrs"),
        sum(when(array_contains(col("msg_types"), "ACK"), 1L).otherwise(0L)).as("n_acks"),
        sum(size(col("uids")).cast(LongType)).as("n_conns"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
  }

  /** Independent oracle for [[leaseChurn]]: gunzip + parse the TSV directly. */
  private def leaseChurnOracle(path: String): Map[String, (Long, Long, Long, Long)] = {
    val src = scala.io.Source.fromInputStream(new java.util.zip.GZIPInputStream(
      new java.io.FileInputStream(path)))
    val acc = scala.collection.mutable.Map.empty[String, (Long, Set[String], Long, Long)]
    try src.getLines().filterNot(_.startsWith("#")).foreach { line =>
      val c = line.split("\t", -1)
      val (mac, assigned, uids, msgs) = (c(4), c(9), c(1), c(13))
      if (mac != "-") {
        val prev = acc.getOrElse(mac, (0L, Set.empty[String], 0L, 0L))
        val addrs = if (assigned == "-") prev._2 else prev._2 + assigned
        val acks = prev._3 + (if (msgs != "-" && msgs.split(",").contains("ACK")) 1L else 0L)
        val conns = prev._4 + (if (uids == "-") 0L
          else if (uids == "(empty)") 0L else uids.split(",").length.toLong)
        acc(mac) = (prev._1 + 1, addrs, acks, conns)
      }
    } finally src.close()
    acc.map { case (mac, (n, addrs, acks, conns)) => mac -> ((n, addrs.size.toLong, acks, conns)) }.toMap
  }

  test("dhcp lease churn: per-device address stability over a planted dhcp.log") {
    // laptop: 4 leases, one address, every handshake ACKed, one conn each;
    // phone: 3 leases on 3 addresses, one NAK, uids as a pair / (empty) /
    // one; probe: 2 DISCOVERs that never got an address; plus a lease
    // with an unset MAC, which the aggregate skips
    def lease(i: Int, uids: String, mac: String, assigned: String, msgs: String) =
      ZeekFixtures.row(s"${t0 + 600L * i}.125000", uids, assigned, "10.0.0.1", mac, "-", "-",
        "lan", "-", assigned, "86400.000000", "-", "-", msgs, "0.010000")
    val dora = "DISCOVER,OFFER,REQUEST,ACK"
    val log = ZeekFixtures.header("dhcp", ZeekFixtures.dhcpFields, ZeekFixtures.dhcpTypes) +
      lease(0, "Ca1", "aa:aa:aa:00:00:01", "10.0.0.10", dora) +
      lease(1, "Cb1,Cb2", "bb:bb:bb:00:00:02", "10.0.0.20", dora) +
      lease(2, "-", "cc:cc:cc:00:00:03", "-", "DISCOVER") +
      lease(3, "Ca2", "aa:aa:aa:00:00:01", "10.0.0.10", "REQUEST,ACK") +
      lease(4, "(empty)", "bb:bb:bb:00:00:02", "10.0.0.21", "REQUEST,NAK") +
      lease(5, "Cx1", "-", "10.0.0.99", dora) +
      lease(6, "Ca3", "aa:aa:aa:00:00:01", "10.0.0.10", "REQUEST,ACK") +
      lease(7, "Cb3", "bb:bb:bb:00:00:02", "10.0.0.22", dora) +
      lease(8, "-", "cc:cc:cc:00:00:03", "-", "-") +
      lease(9, "Ca4", "aa:aa:aa:00:00:01", "10.0.0.10", "REQUEST,ACK")
    val path = ZeekFixtures.write(ZeekFixtures.tempDir(), "dhcp.log.gz", log, gzip = true)
    val got = leaseChurn(path)
    assert(got == Map(
      "aa:aa:aa:00:00:01" -> ((4L, 1L, 4L, 4L)),
      "bb:bb:bb:00:00:02" -> ((3L, 3L, 2L, 3L)),
      "cc:cc:cc:00:00:03" -> ((2L, 0L, 0L, 0L))))
    assert(got == leaseChurnOracle(path))
  }

  test("dhcp lease churn: per-device address stability from the reference's dhcp.log") {
    assume(have)
    val path = s"$refData/dhcp.log.gz"
    assert(leaseChurn(path) == leaseChurnOracle(path))
  }

  /** The analyst workflow a rotated-log deployment runs daily: glob the
    * whole day, first/last-seen + activity per host, provenance via the
    * filename column. Value: (records, first µs, last µs, conns opened,
    * files). */
  private def inventory(dir: String): Map[String, (Long, Long, Long, Long, Long)] = {
    import org.apache.spark.sql.types._
    spark.read.format("zeek").option("filename", "true").load(s"$dir/known_hosts_*.log.gz")
      .groupBy(col("host_ip"))
      .agg(count(lit(1)).as("n_records"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"),
        sum(col("conns_opened").cast(LongType)).as("conns"),
        countDistinct(col("filename")).as("n_files"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
  }

  /** Independent oracle for [[inventory]]: gunzip + parse the TSVs directly. */
  private def inventoryOracle(dir: String): Map[String, (Long, Long, Long, Long, Long)] = {
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.matches("known_hosts_.*\\.log\\.gz")).sortBy(_.getName)
    assert(files.length == 24, s"expected the 24 hourly files, got ${files.length}")
    def tsMicros(s: String): Long = {
      val Array(sec, frac) = s.split("\\.")
      sec.toLong * 1000000L + (frac + "000000").take(6).toLong
    }
    val acc = scala.collection.mutable.Map.empty[String, (Long, Long, Long, Long, Set[String])]
    for (f <- files) {
      val src = scala.io.Source.fromInputStream(
        new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f)))
      try src.getLines().filterNot(_.startsWith("#")).foreach { line =>
        val c = line.split("\t", -1)
        val (host, t, conns) = (c(3), tsMicros(c(0)), c(6).toLong)
        val prev = acc.getOrElse(host, (Long.MaxValue, Long.MinValue, 0L, 0L, Set.empty[String]))
        acc(host) = (math.min(prev._1, t), math.max(prev._2, t),
          prev._3 + conns, prev._4 + 1, prev._5 + f.getName)
      } finally src.close()
    }
    acc.map { case (host, (first, last, conns, n, fileSet)) =>
      host -> ((n, first, last, conns, fileSet.size.toLong)) }.toMap
  }

  test("asset inventory across a planted 24-hour known_hosts rotation") {
    // server: seen every hour, opening h+1 conns in hour h; workstation:
    // hours 8-17, 5 conns each; visitor: two records in hour 12 only
    val dir = ZeekFixtures.tempDir()
    def host(h: Int, i: Int, ip: String, conns: Int) =
      ZeekFixtures.row(s"${t0 + 3600L * h + 60L * i}.250000", "3600.000000", f"K$h%02d$i",
        ip, if (i == 0) "10" else "-", "-", conns.toString, conns.toString, "0", "0",
        if (i == 0) "server,dns" else "(empty)", f"C$h%02d$i", "12.500000")
    for (h <- 0 until 24) {
      val rows = Seq(host(h, 0, "10.0.0.1", h + 1)) ++
        (if (h >= 8 && h <= 17) Seq(host(h, 1, "10.0.0.2", 5)) else Nil) ++
        (if (h == 12) Seq(host(h, 2, "10.0.0.3", 1), host(h, 3, "10.0.0.3", 2)) else Nil)
      ZeekFixtures.write(dir, f"known_hosts_20260116_$h%02d.00.00-${h + 1}%02d.00.00-0500.log.gz",
        ZeekFixtures.header("known_hosts", ZeekFixtures.knownHostsFields,
          ZeekFixtures.knownHostsTypes) + rows.mkString, gzip = true)
    }
    def us(h: Int, i: Int) = (t0 + 3600L * h + 60L * i) * 1000000L + 250000L
    val inv = inventory(dir.toString)
    assert(inv == Map(
      "10.0.0.1" -> ((24L, us(0, 0), us(23, 0), 300L, 24L)),
      "10.0.0.2" -> ((10L, us(8, 1), us(17, 1), 50L, 10L)),
      "10.0.0.3" -> ((2L, us(12, 2), us(12, 3), 3L, 1L))))
    assert(inv == inventoryOracle(dir.toString))
  }

  test("asset inventory across the reference's 24-hour known_hosts rotation matches an independent parse") {
    assume(have)
    assert(inventory(refData) == inventoryOracle(refData))
  }
}
