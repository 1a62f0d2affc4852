package graft.zeek

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The zeek TSV sink: df.write.format("zeek") — round trips through the
  * reader byte-semantics (markers, types, renamed fields) and behaves
  * like a proper v2 sink (append validation, overwrite, gzip, temps). */
class ZeekSinkSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** Driver-side sink errors may arrive wrapped in SparkException. */
  private def chainMessages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  private def read(path: String, opts: Map[String, String] = Map.empty) = {
    val r = spark.read.format("zeek")
    opts.foreach { case (k, v) => r.option(k, v) }
    r.load(path)
  }

  private def collectSorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("renderMicros re-parses to the exact micros for adversarial values") {
    // the scanner truncates (double * 1e6).toLong — the writer must emit
    // text that survives that truncation for ANY micros value
    val rnd = new scala.util.Random(7)
    val cases = Seq(0L, 1L, -1L, 999999L, 1000000L, 1612345678123456L,
      253402300799999999L /* year 9999 */, -62135596800000000L) ++
      (1 to 20000).map(_ => rnd.nextLong() % 2000000000000000L)
    cases.foreach { m =>
      val s = ZeekWriteCore.renderMicros(m)
      val back = (java.lang.Double.parseDouble(s) * 1e6).toLong
      if (math.abs(m) < (1L << 53))
        assert(back == m, s"micros $m rendered '$s' re-parsed $back")
      else // beyond double's µs precision: best effort within the grid
        assert(math.abs(back - m) <= 128, s"micros $m rendered '$s' re-parsed $back")
    }
  }

  test("full-type round trip: read → write → read is value-identical") {
    val dir = ZeekFixtures.tempDir()
    val content = ZeekFixtures.header("rt",
      Seq("ts", "dur", "id.orig_h", "n", "pt", "ok", "ratio", "tags", "durs"),
      Seq("time", "interval", "addr", "count", "port", "bool", "double",
        "vector[string]", "vector[interval]")) +
      ZeekFixtures.row("1432054234.119645", "0.056402", "10.0.0.1", "7", "443",
        "T", "2.25", "a,b,c", "1.5,0.25") +
      ZeekFixtures.row("-", "-", "-", "-", "-", "F", "-3.5", "(empty)", "-") +
      ZeekFixtures.row("1.000001", "3.141592", "fe80::1", "0", "0", "-",
        "0.0", "x,-,(empty)", "0.000001")
    ZeekFixtures.write(dir, "rt.log", content)

    val orig = read(s"$dir/*.log")
    val out = ZeekFixtures.tempDir()
    orig.write.format("zeek").mode("append").save(out.toString)

    val back = read(s"$out/*.log")
    assert(back.schema == orig.schema, "schema (incl. zeek metadata) must survive")
    assert(collectSorted(back) == collectSorted(orig))

    // renamed fields restore their dotted #fields form
    val firstFile = new java.io.File(out.toString).listFiles()
      .filter(_.getName.endsWith(".log")).head
    val text = new String(java.nio.file.Files.readAllBytes(firstFile.toPath), "UTF-8")
    assert(text.contains("id.orig_h"), "zeek.name metadata must restore the original field")
    assert(text.startsWith("#separator \\x09\n"))
    assert(text.contains("#types\ttime\tinterval\taddr\tcount\tport\tbool\tdouble\tvector[string]\tvector[interval]"))
  }

  test("reference corpus round trip: dns.log.gz written and re-read identically") {
    val data = new java.io.File("/root/reference/data")
    assume(data.isDirectory, "reference tree not present")
    val orig = read("/root/reference/data/dns.log.gz")
    val out = ZeekFixtures.tempDir()
    orig.write.format("zeek").mode("append").option("compression", "gzip").save(out.toString)
    val files = new java.io.File(out.toString).listFiles().map(_.getName).filter(_.endsWith(".log.gz"))
    assert(files.nonEmpty, "gzip option must produce .log.gz parts")
    val back = read(s"$out/*.log.gz")
    assert(back.schema == orig.schema)
    assert(collectSorted(back) == collectSorted(orig))
  }

  test("zstd compression round-trips through the reader's magic-byte sniff") {
    val out = ZeekFixtures.tempDir()
    import spark.implicits._
    val df = Seq((1L, "alpha"), (2L, "beta")).toDF("n", "s").repartition(1)
    df.write.format("zeek").mode("append").option("compression", "zstd").save(out.toString)
    val files = new java.io.File(out.toString).listFiles().map(_.getName).filter(_.endsWith(".log.zst"))
    assert(files.nonEmpty, "zstd option must produce .log.zst parts")
    val back = read(s"$out/*.log.zst")
    assert(back.count() == 2)
    assert(collectSorted(back.select("n", "s")) == Seq("[1,alpha]", "[2,beta]"))
  }

  test("append to an existing directory accumulates; mismatched schema is rejected") {
    val out = ZeekFixtures.tempDir()
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("n", "s").repartition(1)
    df.write.format("zeek").mode("append").save(out.toString)
    df.write.format("zeek").mode("append").save(out.toString)
    assert(read(s"$out/*.log").count() == 4)

    val bad = Seq(("x", 1L)).toDF("different", "cols")
    val e = intercept[Exception](
      bad.write.format("zeek").mode("append").save(out.toString))
    assert(chainMessages(e).contains("does not match existing log"), chainMessages(e))

    // overwrite replaces the previous parts
    Seq((9L, "z")).toDF("n", "s").repartition(1)
      .write.format("zeek").mode("overwrite").save(out.toString)
    val after = read(s"$out/*.log")
    assert(after.count() == 1 && after.select("s").as[String].head() == "z")
  }

  test("overwrite deletes only log part-files, never foreign files in the directory") {
    val out = ZeekFixtures.tempDir()
    import spark.implicits._
    Seq((1L, "a")).toDF("n", "s").write.format("zeek").mode("append").save(out.toString)
    val foreign = new java.io.File(out.toString, "README.txt")
    java.nio.file.Files.write(foreign.toPath, "keep me".getBytes("UTF-8"))
    Seq((2L, "b")).toDF("n", "s").write.format("zeek").mode("overwrite").save(out.toString)
    assert(foreign.exists, "overwrite must not touch non-log files")
    assert(read(s"$out/*.log").count() == 1)
  }

  test("empty frame writes a header-only log that reads back as schema + 0 rows") {
    val out = ZeekFixtures.tempDir()
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("n", "s").filter(col("n") < 0).repartition(2)
    df.write.format("zeek").mode("append").save(out.toString)
    val back = read(s"$out/*.log")
    assert(back.columns.toSeq == Seq("n", "s"))
    assert(back.count() == 0)
    // no in-progress temps left behind
    assert(!new java.io.File(out.toString).listFiles().exists(_.getName.contains("inprogress")))
  }

  test("streaming sink: epoch-named rotations that the zeek source reads back") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = ZeekFixtures.tempDir()
    val cp = ZeekFixtures.tempDir()
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("n", "s").repartition(1)
      .writeStream.format("zeek")
      .option("checkpointLocation", cp.toString)
      .option("zeek_path", "relay")
      .start(out.toString)
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
      val names = new java.io.File(out.toString).listFiles().map(_.getName)
        .filter(_.endsWith(".log")).sorted.toSeq
      assert(names.forall(_.matches("part-q[0-9a-f]{8}-e\\d{5}-p\\d{5}\\.log")), names.toString)
      assert(names.size == 2, s"one log per non-empty epoch: $names")
      assert(names.map(_.substring(0, 14)).distinct.size == 1,
        "one query = one qid namespace: " + names)
      val back = read(s"$out/*.log")
      assert(back.count() == 3)
      assert(collectSorted(back.select("n", "s")) ==
        Seq("[1,a]", "[2,b]", "[3,c]"))
      // the #path directive carries the configured rotation name
      val text = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(out.toString, names.head).toPath), "UTF-8")
      assert(text.contains("#path\trelay"))
    } finally q.stop()
  }

  test("max_rows_per_file rolls bounded rotations that read back complete") {
    val out = ZeekFixtures.tempDir()
    import spark.implicits._
    (1L to 10L).map(i => (i, s"v$i")).toDF("n", "s").repartition(1)
      .write.format("zeek").mode("append")
      .option("max_rows_per_file", "3").save(out.toString)
    val names = new java.io.File(out.toString).listFiles().map(_.getName)
      .filter(_.endsWith(".log")).sorted.toSeq
    assert(names.length == 4, s"10 rows / cap 3 = 4 rolls: $names")
    assert(names.forall(_.matches("part-\\d{5}-\\d+-[0-9a-f]{8}-r\\d+\\.log")), names.toString)
    val back = read(s"$out/*.log", Map("filename" -> "true"))
    assert(back.count() == 10)
    // every file is a complete log (header + #close) holding ≤ cap rows
    val perFile = back.groupBy("filename").count()
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(perFile == Seq(1L, 3L, 3L, 3L), perFile.toString)
    assert(!new java.io.File(out.toString).listFiles()
      .exists(_.getName.contains("inprogress")))
  }

  test("stateful streaming into the sink: watermarked windowed counts land as zeek rotations") {
    // append-mode watermarked aggregation emits each window once it
    // finalizes — the sink must accept a STATEFUL query's epochs, not
    // just map-only relays
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = ZeekFixtures.tempDir()
    val cp = ZeekFixtures.tempDir()
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val agg = input.toDF().toDF("ts", "kind")
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "1 minute"), col("kind"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("kind"), col("n"))
    val q = agg.writeStream.format("zeek")
      .option("checkpointLocation", cp.toString)
      .outputMode("append").start(out.toString)
    try {
      def ts(min: Int, sec: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:$sec%02d")
      input.addData((ts(0, 5), "a"), (ts(0, 10), "a"), (ts(0, 20), "b"))
      q.processAllAvailable()
      // advance the watermark far enough to finalize the 10:00 window
      input.addData((ts(5, 0), "a"))
      q.processAllAvailable()
      val back = read(s"$out/*.log")
      val rows = back.collect().map(r =>
        (r.getAs[java.sql.Timestamp]("w_start"), r.getString(1), r.getLong(2))).toSet
      assert(rows == Set((ts(0, 0), "a", 2L), (ts(0, 0), "b", 1L)), rows.toString)
      assert(back.schema("w_start").dataType == org.apache.spark.sql.types.TimestampType)
    } finally q.stop()
  }

  test("zeek-to-zeek streaming relay: rotated logs in, typed rotations out") {
    // the full loop the sink exists for: ingest a rotating log directory
    // as a stream and land it as zeek-format rotations elsewhere, types
    // intact (#types time/string/count, not strings)
    val in = ZeekFixtures.tempDir()
    val out = ZeekFixtures.tempDir()
    val cp = ZeekFixtures.tempDir()
    ZeekFixtures.write(in, "a.log",
      ZeekFixtures.base("t", Seq(("1.5", "A1", "100"), ("2.5", "A2", "200"))))
    val q = spark.readStream.format("zeek").load(s"$in/*.log")
      .writeStream.format("zeek")
      .option("checkpointLocation", cp.toString)
      .start(out.toString)
    try {
      q.processAllAvailable()
      assert(read(s"$out/*.log").count() == 2)
      ZeekFixtures.write(in, "b.log",
        ZeekFixtures.base("t", Seq(("3.5", "B1", "300"))))
      q.processAllAvailable()
      val back = read(s"$out/*.log")
      assert(back.count() == 3)
      // zeek types survived the relay via column metadata
      val f = new java.io.File(out.toString).listFiles()
        .filter(_.getName.endsWith(".log")).head
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      assert(text.contains("#types\ttime\tstring\tcount"), text.take(400))
    } finally q.stop()
  }

  test("relay restart from checkpoint: no duplicates, no losses across stop/start") {
    // the durability loop: source offsets recover from the checkpoint,
    // sink epochs stay exactly-once — every input row lands exactly once
    // even though the query is stopped and restarted between rotations
    val in = ZeekFixtures.tempDir()
    val out = ZeekFixtures.tempDir()
    val cp = ZeekFixtures.tempDir()
    def start() = spark.readStream.format("zeek").load(s"$in/*.log")
      .writeStream.format("zeek")
      .option("checkpointLocation", cp.toString)
      .start(out.toString)
    ZeekFixtures.write(in, "a.log",
      ZeekFixtures.base("t", Seq(("1.5", "A1", "100"), ("2.5", "A2", "200"))))
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(read(s"$out/*.log").count() == 2)

    // rotations appear while the query is DOWN…
    ZeekFixtures.write(in, "b.log",
      ZeekFixtures.base("t", Seq(("3.5", "B1", "300"))))
    ZeekFixtures.write(in, "c.log",
      ZeekFixtures.base("t", Seq(("4.5", "C1", "400"), ("5.5", "C2", "500"))))
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()

    val back = read(s"$out/*.log")
    assert(back.count() == 5, "each input row must land exactly once")
    assert(collectSorted(back.select("id")) ==
      Seq("[A1]", "[A2]", "[B1]", "[C1]", "[C2]"))
    // the qid namespace must be STABLE across restarts (it derives from
    // the checkpointed query id, not the per-run id) — otherwise a replay
    // after restart could not overwrite its own epoch files
    val qids = new java.io.File(out.toString).listFiles().map(_.getName)
      .filter(_.endsWith(".log")).map(_.substring(0, 14)).distinct
    assert(qids.length == 1, s"restart changed the sink namespace: ${qids.toSeq}")
  }

  test("SQL DDL surface: CREATE TABLE USING zeek + INSERT INTO + SELECT") {
    val out = ZeekFixtures.tempDir()
    spark.sql(s"CREATE TABLE zeek_sql_sink (n BIGINT, s STRING) USING zeek OPTIONS (path '$out')")
    try {
      spark.sql("INSERT INTO zeek_sql_sink VALUES (1, 'a'), (2, 'b')")
      assert(spark.sql("SELECT count(*) FROM zeek_sql_sink").head().getLong(0) == 2)
      spark.sql("INSERT INTO zeek_sql_sink VALUES (3, 'c')")
      assert(spark.table("zeek_sql_sink").count() == 3)
      // INSERT resolves positionally against the DECLARED schema — the
      // written #fields carry the declared names, not VALUES' col1/col2
      val f = new java.io.File(out.toString).listFiles()
        .filter(_.getName.endsWith(".log")).head
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      assert(text.contains("#fields\tn\ts"), text.take(400))
      assert(text.contains("#types\tint\tstring"), text.take(400))
    } finally spark.sql("DROP TABLE zeek_sql_sink")
  }

  test("SQL DDL without columns: the first INSERT sets the schema") {
    val out = ZeekFixtures.tempDir().resolve("fresh")
    spark.sql(s"CREATE TABLE zeek_sql_nocols USING zeek OPTIONS (path '$out')")
    try {
      spark.sql("INSERT INTO zeek_sql_nocols SELECT 1L AS n, 'a' AS s")
      assert(spark.table("zeek_sql_nocols").collect().map(_.toString).toSeq == Seq("[1,a]"))
    } finally spark.sql("DROP TABLE zeek_sql_nocols")
  }

  test("scalar strings equal to the unset/empty markers are escaped like zeek's writer") {
    // "-" / "(empty)" as VALUES would re-read as NULL / "" — silent
    // corruption; zeek's ascii writer hex-escapes the first char, so do we
    assert(ZeekWriteCore.renderString("-") == "\\x2d")
    assert(ZeekWriteCore.renderString("(empty)") == "\\x28empty)")
    assert(ZeekWriteCore.renderString("") == "(empty)") // the real empty string keeps its marker
    assert(ZeekWriteCore.renderString("-x") == "-x")    // only EXACT collisions escape

    val out = ZeekFixtures.tempDir()
    import spark.implicits._
    Seq((1L, "-"), (2L, "(empty)"), (3L, "ok"), (4L, ""))
      .toDF("n", "s").repartition(1)
      .write.format("zeek").mode("append").save(out.toString)
    val back = read(s"$out/*.log").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // escaped forms re-read as the literal escaped text (no ecosystem
    // reader unescapes) — NULL-ness and emptiness survive, bytes don't
    assert(back(1L).contains("\\x2d"))
    assert(back(2L).contains("\\x28empty)"))
    assert(back(3L).contains("ok"))
    // the EMPTY scalar string is the format's inherent normalization: it
    // renders as the empty marker, and the scanner (like the reference)
    // maps BOTH markers to NULL for scalars — "" → NULL survives no escape
    assert(back(4L).isEmpty)
  }

  test("streaming epoch replay commit drops stale files the replay didn't re-commit") {
    // a replay with FEWER partitions (changed shuffle-partition count) or
    // fewer -rN rolls must not leave the first attempt's extra files of
    // the same query+epoch behind as duplicates — while files of OTHER
    // epochs, other QUERIES (different qid), and other runs stay untouched
    val out = ZeekFixtures.tempDir()
    def mk(name: String): java.io.File = {
      val f = new java.io.File(out.toString, name)
      java.nio.file.Files.write(f.toPath, "stale\n".getBytes("UTF-8")); f
    }
    val kept = mk("part-qaabbccdd-e00005-p00000.log")       // re-committed by the replay
    val stale = mk("part-qaabbccdd-e00005-p00001.log")      // first attempt only
    val staleRoll = mk("part-qaabbccdd-e00005-p00000-r1.log") // first attempt rolled further
    val otherEpoch = mk("part-qaabbccdd-e00004-p00001.log") // other epochs untouched
    val otherQuery = mk("part-q11223344-e00005-p00007.log") // another run's namespace

    import graft.zeek.v2.{SerializableConf, ZeekStreamingWrite, ZeekTaskCommit}
    val w = new ZeekStreamingWrite(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType))),
      out.toString, "t", "none", Long.MaxValue, "aabbccdd",
      new SerializableConf(spark.sessionState.newHadoopConf()))
    w.commit(5L, Array(ZeekTaskCommit(kept.getPath), ZeekTaskCommit("")))

    assert(kept.exists, "re-committed file must survive")
    assert(!stale.exists, "stale partition from the prior attempt must be deleted")
    assert(!staleRoll.exists, "stale roll from the prior attempt must be deleted")
    assert(otherEpoch.exists, "other epochs are not this commit's business")
    assert(otherQuery.exists,
      "a different query's same-numbered epoch must NEVER be touched")
  }

  test("derived zeek types for plain Spark frames; unsupported types fail fast") {
    val out = ZeekFixtures.tempDir()
    import spark.implicits._
    val df = Seq((1L, 2, true, 1.5, "x", Seq(1L, 2L)))
      .toDF("a", "b", "c", "d", "e", "f").repartition(1)
    df.write.format("zeek").mode("append").save(out.toString)
    val back = read(s"$out/*.log")
    // int/bool/double/string/vector[int] — count/int widths collapse to long
    assert(back.schema.fields.map(_.dataType.simpleString).toSeq ==
      Seq("bigint", "bigint", "boolean", "double", "string", "array<bigint>"))
    assert(back.count() == 1)

    val e = intercept[Exception](
      Seq((1L, BigDecimal(1))).toDF("n", "dec")
        .write.format("zeek").mode("append").save(ZeekFixtures.tempDir().toString))
    assert(chainMessages(e).contains("cannot write column"), chainMessages(e))
  }
}
