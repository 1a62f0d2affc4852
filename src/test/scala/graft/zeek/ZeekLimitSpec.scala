package graft.zeek

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Limit pushdown: partitions stop reading after n post-filter rows
  * (LocalLimit semantics — Spark still applies the global limit). */
class ZeekLimitSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def corpus(): String = {
    val dir = ZeekFixtures.tempDir()
    val rows = (1 to 500).map(i => (s"$i.0", f"ID$i%05d", s"$i"))
    ZeekFixtures.write(dir, "a.log", ZeekFixtures.base("t", rows))
    ZeekFixtures.write(dir, "b.log.gz", ZeekFixtures.base("t", rows), gzip = true)
    s"$dir/*"
  }

  test("limit returns exactly n rows (columnar path)") {
    val glob = corpus()
    val df = spark.read.format("zeek").load(glob)
    assert(df.limit(7).collect().length == 7)
    assert(df.limit(0).collect().isEmpty)
    assert(df.limit(5000).count() == 1000) // limit above total: everything
  }

  test("limit composes with pushed filters (filter-first path)") {
    val glob = corpus()
    val df = spark.read.format("zeek").load(glob)
    val got = df.filter(col("value") > 100).limit(9).collect()
    assert(got.length == 9)
    assert(got.forall(_.getLong(2) > 100)) // post-filter rows only
  }

  test("limit respects zeek semantics: blank/directive lines don't count") {
    val dir = ZeekFixtures.tempDir()
    val content = ZeekFixtures.base("t", (1 to 3).map(i => (s"$i.0", s"X$i", s"$i"))) +
      "#close\t2026-01-22-02-30-59\n"
    ZeekFixtures.write(dir, "c.log", content)
    val df = spark.read.format("zeek").load(s"$dir/c.log")
    assert(df.limit(3).collect().length == 3)
  }
}
