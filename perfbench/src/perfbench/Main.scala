package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark program. One JVM, one Spark session built by
  * `graft.BenchEnv.sessionBuilder(dir, nproc)`, a closed loop with one
  * client: ops run one after another, each pass runs every op of the
  * workload once in a seed-permuted order.
  *
  * A run: make or reuse the inputs, start the session, run the
  * validation pass (every output checked) and one warm pass, then run
  * passes for the given seconds. With `--trace 1` the second half of the
  * window runs under Spark listeners and spans, and the single-thread
  * format ladder and the scan ladder follow.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --out FILE [--data DIR] [--pins FILE] [--commit SHA]
  *   [--pin-out FILE]
  */
object Main {
  // corpus sizes: files and rows per file; the small corpora feed the
  // ladders of a traced run
  val GzHours = 24
  val GzRows = 210000
  val WideFiles = 4
  val WideRows = 500000
  val SmallGzRows = 8000
  val SmallWideFiles = 2
  val SmallWideRows = 40000

  /** analysisMs: the built DataFrame's own (eager) analysis phase; the
    * action's phases arrive through the QueryExecutionListener */
  final case class OpRun(name: String, wallS: Double, ok: Boolean,
      opId: Int, buildId: Int, execId: Int, buildS: Double, releaseMs: Double,
      analysisMs: Double, startMs: Double, endMs: Double)
  /** wallS: sum of the op latencies, +inf if an op failed */
  final case class PassRun(wallS: Double, ops: Seq[OpRun])

  def main(argv: Array[String]): Unit = {
    val tMain = System.nanoTime()
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1")
    val work = new File(a("work")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(work.toPath)

    // Corpora come in two variants, picked by the seed's parity and made
    // from it alone, and stay cached: the build directory's disk deletes
    // slowly (seconds per GB), so regenerating per seed would spend more
    // of a run on file churn than on the benchmark.
    val variant = math.floorMod(seed, 2L)
    def corpusRoot(kind: String): File = new File(work, s"corpus/$kind/v$variant")
    def smallGz() = ZeekCorpus.rotated(corpusRoot("gz_small"), variant, GzHours, SmallGzRows, cores)
    def smallWide() = ZeekCorpus.wide(corpusRoot("wide_small"), variant, SmallWideFiles, SmallWideRows, cores)

    // ---- inputs (generation is cached and not part of setup) -------------
    var genS = 0.0
    def gen[A](x: (A, Double)): A = { genS += x._2; x._1 }
    val (sizeDir, mkOps): (String, SparkSession => Seq[Op]) = workload match {
      case "zeek_rotated_gz" =>
        val main = gen(ZeekCorpus.rotated(corpusRoot("gz"), variant, GzHours, GzRows, cores))
        (main.dir, s => ZeekWorkloads.rotated(s, main, new File(work, "sink/main")))
      case "zeek_wide_plain" =>
        val main = gen(ZeekCorpus.wide(corpusRoot("wide"), variant, WideFiles, WideRows, cores))
        (main.dir, s => ZeekWorkloads.wide(s, main))
      case "contract_floor" =>
        val data = a("data")
        val pins = a.get("pins").map(p => ContractWorkload.pins(new File(p))).getOrElse(Map.empty)
        (s"$data/sf0.1", s => ContractWorkload.ops(s, s"$data/sf0.1", pins))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val ladders = if (traced) Some((gen(smallGz()), gen(smallWide()))) else None
    println(f"context corpus_gen_s=$genS%.3f")

    // ---- setup: session start, validation pass, warm pass -----------------
    // The validation pass runs every op once on the full inputs and pays
    // codegen and the page cache; one more full pass lets the JIT catch
    // up (the first pass after validation ran 6-13% slower than later
    // ones). This stands in for graft.Bench's sf0.001 warm-up plus full
    // warm pass: a separate small-input pass cost 4-11 s a run and the
    // full pass warms everything it warmed.
    val tSetup = System.nanoTime()
    val spark = graft.BenchEnv.sessionBuilder(sizeDir, cores.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - tSetup) / 1e9
    val tracer = new Tracer
    val probe = new SparkProbe(spark, tracer)
    val ops = mkOps(spark)
    val order = new Order(seed)

    var attempted = 0L
    var failed = 0L
    def runOp(op: Op, validate: Boolean, trace: Boolean, parent: Int): OpRun = {
      val (opId, buildId, execId, relId) =
        if (trace) (tracer.newId(), tracer.newId(), tracer.newId(), tracer.newId()) else (0, 0, 0, 0)
      op.prepare()
      val t0 = System.nanoTime()
      var result: Any = null
      var error: Option[String] = None
      var t1 = t0; var t2 = t0
      var analysisMs = 0.0
      try {
        val df = if (trace) probe.inGroup(buildId, "build")(op.build()) else op.build()
        t1 = System.nanoTime()
        if (trace) analysisMs = df.queryExecution.tracker.phases.get("analysis")
          .map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
        result = if (trace) probe.inGroup(execId, "exec")(op.execute(df, validate)) else op.execute(df, validate)
      } catch {
        case NonFatal(e) => error = Some(s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally {
        t2 = System.nanoTime()
        try op.release() catch { case NonFatal(e) => error = error.orElse(Some(s"${op.name} release: $e")) }
      }
      val t3 = System.nanoTime()
      if (t1 == t0) t1 = t2
      if (error.isEmpty) error = try op.check(result, validate) catch {
        case NonFatal(e) => Some(s"${op.name} check: $e")
      }
      error.foreach(m => System.err.println(s"[perfbench] FAILED $m"))
      if (trace) {
        tracer.add(buildId, opId, "build", "build", tracer.nowMs(t0), tracer.nowMs(t1))
        tracer.add(execId, opId, "execute", "execute", tracer.nowMs(t1), tracer.nowMs(t2))
        tracer.add(relId, opId, "release", "release", tracer.nowMs(t2), tracer.nowMs(t3))
        tracer.add(opId, parent, s"op ${op.name}", "op", tracer.nowMs(t0), tracer.nowMs(t3))
      }
      OpRun(op.name, if (error.isEmpty) (t3 - t0) / 1e9 else Double.PositiveInfinity, error.isEmpty,
        opId, buildId, execId, (t1 - t0) / 1e9, (t3 - t2) / 1e6, analysisMs, tracer.nowMs(t0), tracer.nowMs(t3))
    }
    def pass(validate: Boolean, trace: Boolean): PassRun = {
      val passId = if (trace) tracer.newId() else 0
      val t0 = System.nanoTime()
      val runs = order.next(ops).map(op => runOp(op, validate, trace, passId))
      if (trace) tracer.add(passId, 0, "pass", "pass", tracer.nowMs(t0), tracer.nowMs(System.nanoTime()))
      attempted += runs.size; failed += runs.count(!_.ok)
      // the pass time is the sum of its op latencies (a failed op's is
      // +inf): untimed per-op preparation stays out of it
      PassRun(runs.map(_.wallS).sum, runs)
    }

    // pin mode: hash every contract output once and stop
    a.get("pin-out").foreach { f =>
      val lines = ops.map { op =>
        val (rows, hash) = Canon.hash(op.build()); op.release()
        s"${op.name}\t$rows\t$hash"
      }
      Files.write(new File(f).toPath, (lines.mkString("\n") + "\n").getBytes(UTF_8))
      spark.stop()
      return
    }

    val validation = pass(validate = true, trace = false)
    val validatedS = (System.nanoTime() - tSetup) / 1e9
    pass(validate = false, trace = false)
    val setupS = (System.nanoTime() - tSetup) / 1e9
    println(f"context setup session_s=$sessionS%.3f validation_s=${validatedS - sessionS}%.3f " +
      f"warm_pass_s=${setupS - validatedS}%.3f " +
      s"validation_failed=${validation.ops.count(!_.ok)}")

    // ---- timed passes ---------------------------------------------------
    val tWindow = System.nanoTime()
    val controlPre = Control.cpuControl()
    val window = if (traced) seconds / 2 else seconds
    def passesFor(sec: Double, trace: Boolean): Seq[PassRun] = {
      val t0 = System.nanoTime()
      val out = Seq.newBuilder[PassRun]
      var n = 0
      while (n == 0 || (System.nanoTime() - t0) / 1e9 < sec) { out += pass(validate = false, trace = trace); n += 1 }
      out.result()
    }
    val plain = passesFor(window, trace = false)
    val tracedPasses = if (traced) {
      probe.install()
      val p = passesFor(window, trace = true)
      probe.drain()
      probe.remove()
      p
    } else Nil
    val controlPost = Control.cpuControl()
    println(f"context timeline inputs_s=${(tSetup - tMain) / 1e9}%.3f setup_s=$setupS%.3f " +
      f"window_s=${(System.nanoTime() - tWindow) / 1e9}%.3f")

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val opWalls = plain.flatMap(_.ops.map(_.wallS))
    if (!traced) {
      metrics("pass_s") = (Stats.median(plain.map(_.wallS)), "s")
      metrics("op_p50_s") = (Stats.median(opWalls), "s")
      metrics("setup_s") = (setupS, "s")
    } else {
      val (smallGzCorpus, smallWideCorpus) = ladders.get
      val ladder = new Ladder(spark, tracer, work)
      ladder.scan(smallGzCorpus, smallWideCorpus).foreach { case (k, v) => metrics(k) = v }
      ladder.format(smallGzCorpus, smallWideCorpus).foreach { case (k, v) => metrics(k) = v }
      val parts = ladder.partitions(workload match {
        case "zeek_rotated_gz" => new File(sizeDir, "*.log.gz").getPath
        case "zeek_wide_plain" => new File(sizeDir, "*.log").getPath
        case _ => smallWideCorpus.glob(".log")
      })
      metrics("zeek_v2.partitions") = (parts.toDouble, "count")
      Layers.fromTrace(tracedPasses, probe, cores).foreach { case (k, v) => metrics(k) = v }
      metrics("host.cpu_control_s") = (math.max(controlPre, controlPost), "s")
      metrics("host.peak_rss_mb") = (Control.peakRssMb(), "MB")
      metrics("trace.overhead_frac") =
        (Stats.median(tracedPasses.map(_.wallS)) / Stats.median(plain.map(_.wallS)), "ratio")
      val tf = new File(work, s"trace/$workload-seed$seed.json")
      Files.createDirectories(tf.getParentFile.toPath)
      tracer.write(tf)
      println(s"context trace_file=${tf.getPath}")
      tracer.selfTimes().groupBy(_._1.kind).toSeq.map { case (k, xs) => (k, xs.map(_._2).sum, xs.size) }
        .sortBy(-_._2).foreach { case (k, self, n) => println(f"trace self_ms kind=$k%-9s n=$n%5d self_ms=$self%.1f") }
    }

    // ---- report -----------------------------------------------------------
    val xmx = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).find(_.startsWith("-Xmx")).getOrElse("default")
    println(s"context workload=$workload seed=$seed nproc=$cores master=${spark.sparkContext.master} " +
      s"xmx=$xmx commit=${a.getOrElse("commit", "unknown")} " +
      f"host.cpu_control_s=${math.max(controlPre, controlPost)}%.4f passes=${plain.size}+${tracedPasses.size} " +
      s"ops=${opWalls.size} attempted=$attempted failed=$failed")
    // printed every run but not in the gated result: failed_frac is 0 on
    // a correct commit, and peak RSS follows the JVM's adaptive heap
    // sizing (about 20% apart between runs of one commit)
    println("context passes_s=" + (plain ++ tracedPasses).map(p => f"${p.wallS}%.3f").mkString(","))
    plain.flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
      println(f"context op $n%-24s median_s=${Stats.median(rs.map(_.wallS))}%.4f n=${rs.size}")
    }
    println(f"metric failed_frac ${failed.toDouble / attempted}%.6f ratio")
    println(s"metric peak_rss_mb ${Control.peakRssMb()} MB")
    metrics.foreach { case (k, (v, u)) => println(s"metric $k $v $u") }
    spark.stop()
    println(f"context jvm_main_s=${(System.nanoTime() - tMain) / 1e9}%.3f")

    def num(v: Double): String = if (v.isInfinite) "Infinity" else if (v.isNaN) "NaN" else v.toString
    val json = s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ") + "}}"
    Files.write(new File(a("out")).toPath, json.getBytes(UTF_8))
  }
}

/** Seed-permuted op order, a fresh permutation per pass. */
final class Order(seed: Long) {
  private var n = 0L
  def next[A](xs: Seq[A]): Seq[A] = {
    n += 1
    new scala.util.Random(seed * 1000003L + n).shuffle(xs)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

object Control {
  /** `graft.Bench`'s host control: a fixed single-thread FP loop. */
  def cpuControl(): Double = {
    val t0 = System.nanoTime()
    var s = 0.0; var i = 0
    while (i < 200000000) { s += 1.0 / (1.0 + (i & 1023)); i += 1 }
    if (s < 0) println(s)
    (System.nanoTime() - t0) / 1e9
  }

  /** VmHWM of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}

/** Per-layer metrics from the traced passes: medians over passes of
  * per-pass totals. */
object Layers {
  def fromTrace(passes: Seq[Main.PassRun], probe: SparkProbe, cores: Int): Seq[(String, (Double, String))] = {
    val phases = probe.phases.toArray(new Array[(Double, Double, Double, Double)](0)).toSeq
    // per pass: (name, value, unit)
    val perPass = passes.map { p =>
      val accs = p.ops.flatMap(o => Seq(probe.group(o.buildId, "build"), probe.group(o.execId, "exec")))
      val build = p.ops.map(o => probe.group(o.buildId, "build"))
      val taskS = accs.map(_.taskMs).sum / 1e3
      val opWall = p.ops.map(_.wallS).sum
      val ph = phases.filter(x => p.ops.exists(o => x._1 >= o.startMs - 1 && x._1 <= o.endMs + 1))
      Seq(
        ("plan.analysis_ms", ph.map(_._2).sum + p.ops.map(_.analysisMs).sum, "ms"),
        ("plan.optimization_ms", ph.map(_._3).sum, "ms"),
        ("plan.planning_ms", ph.map(_._4).sum, "ms"),
        ("exec.jobs", accs.map(_.jobs).sum.toDouble, "count"),
        ("exec.stages", accs.map(_.stages).sum.toDouble, "count"),
        ("exec.tasks", accs.map(_.tasks).sum.toDouble, "count"),
        ("exec.task_s", taskS, "s"),
        ("exec.overhead_s", opWall - taskS / cores, "s"),
        ("exec.max_task_ms", if (accs.isEmpty) 0.0 else accs.map(_.maxTaskMs).max.toDouble, "ms"),
        ("exec.gc_ms", accs.map(_.gcMs).sum.toDouble, "ms"),
        ("exec.shuffle_read_mb", accs.map(_.shufR).sum / 1e6, "MB"),
        ("exec.shuffle_write_mb", accs.map(_.shufW).sum / 1e6, "MB"),
        ("exec.input_mb", accs.map(_.input).sum / 1e6, "MB"),
        ("exec.busy_frac", taskS / (p.wallS * cores), "ratio"),
        ("queries.build_s", p.ops.map(_.buildS).sum, "s"),
        ("queries.build_jobs", build.map(_.jobs).sum.toDouble, "count"),
        ("operators.release_ms", p.ops.map(_.releaseMs).sum, "ms"))
    }
    perPass.head.indices.map { i =>
      val (name, _, unit) = perPass.head(i)
      name -> (Stats.median(perPass.map(_(i)._2)), unit)
    }
  }
}
