package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.SparkSession

/** One timed operation of a workload, with the seconds of each operation
  * in it (a query, or the whole pass) and the per-layer metrics of a traced
  * pass (empty for an untraced one).
  */
final case class PassResult(seconds: Double, attempted: Int, failed: Int,
    opSeconds: Seq[(String, Double)] = Seq.empty, layers: Map[String, Double] = Map.empty, trace: String = "",
    cpuSeconds: Double = 0.0)

trait Workload {
  /** Writes the seeded inputs under the work directory (before set-up). */
  def generate(): Unit
  def pass(spark: SparkSession, tracer: Option[Tracer]): PassResult
  /** Output checks made outside the timed passes: (attempted, failed). */
  def finalCheck(spark: SparkSession): (Int, Int) = (0, 0)
  /** Rows of input one pass reads; 0 when a pass is not row-sized. */
  def inputRows: Long = 0L
}

/** Benchmark harness: generates a workload's inputs from the seed, sets a
  * local Spark session up, runs one cold pass and then warm passes for the
  * given number of seconds, checks every output, and prints the result as
  * the last stdout line.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <dir> --bench-dir <perfbench dir> [--commit <id>]
  *   perfbench.Main --write-expected --bench-dir <dir> --work <dir>
  */
object Main {

  final case class Args(
      workload: String = "",
      seed: Long = 0L,
      seconds: Double = 10,
      trace: Boolean = false,
      work: Path = Paths.get(".bench_work"),
      benchDir: Path = Paths.get("perfbench"),
      commit: String = "unknown",
      writeExpected: Boolean = false)

  def parse(args: Seq[String], acc: Args = Args()): Args = args match {
    case "--workload" +: v +: rest   => parse(rest, acc.copy(workload = v))
    case "--seed" +: v +: rest       => parse(rest, acc.copy(seed = v.toLong))
    case "--seconds" +: v +: rest    => parse(rest, acc.copy(seconds = v.toDouble))
    case "--trace" +: v +: rest      => parse(rest, acc.copy(trace = v == "1"))
    case "--work" +: v +: rest       => parse(rest, acc.copy(work = Paths.get(v)))
    case "--bench-dir" +: v +: rest  => parse(rest, acc.copy(benchDir = Paths.get(v)))
    case "--commit" +: v +: rest     => parse(rest, acc.copy(commit = v))
    case "--write-expected" +: rest  => parse(rest, acc.copy(writeExpected = true))
    case Seq()                       => acc
    case other                       => throw new IllegalArgumentException(s"unknown argument ${other.head}")
  }

  val MinWarmPasses = 5

  /** Conf keys that differ between two runs of the same settings. */
  val VolatileConf = Set("spark.app.id", "spark.app.startTime", "spark.app.submitTime", "spark.driver.port")

  /** Local cores and shuffle partitions, as the repository's baseline
    * measurements run the engine.
    */
  val Cores = 4

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def workload(a: Args): Workload = a.workload match {
    case "import_wide24" => Importer.wide24(a.work, a.benchDir, a.seed)
    case "queries_sf0.01" => new Queries(a.benchDir, a.seed)
    case other           => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** CPU time of this JVM, all threads, in seconds. */
  def processCpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Machine-wide (steal, total) CPU ticks from /proc/stat; steal is time a
    * virtual CPU waited for its host.
    */
  def cpuTicks(): (Long, Long) = {
    val stat = Paths.get("/proc/stat")
    if (!Files.exists(stat)) (0L, 0L)
    else {
      val f = new String(Files.readAllBytes(stat), UTF_8).linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    }
  }

  def withCpu(pass: => PassResult): PassResult = {
    val c0 = processCpuSeconds()
    val r = pass
    r.copy(cpuSeconds = processCpuSeconds() - c0)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else new String(Files.readAllBytes(status), UTF_8).linesIterator
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
  }

  /** Peak used heap, summed over the heap's memory pools, in MB. */
  def peakHeapUsedMb(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    Files.createDirectories(a.work)
    if (a.writeExpected) { Queries.writeExpected(a); return }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadAvg()
    val ticksStart = cpuTicks()
    val w = workload(a)

    val genStart = System.nanoTime()
    w.generate()
    val genSeconds = (System.nanoTime() - genStart) / 1e9

    // Set-up: JVM start to session ready + one small job done, minus input
    // generation. The workload's own code first runs in the cold pass.
    val spark = session(a.work)
    spark.range(0, 100000, 1, Cores).selectExpr("sum(id)").collect()
    val setupSeconds = (System.currentTimeMillis() - jvmStartMs) / 1e3 - genSeconds

    val cold = withCpu(w.pass(spark, None))
    // A traced run alternates untraced and traced passes; the listener is
    // attached only while a traced pass runs.
    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val warm = Vector.newBuilder[PassResult]
    val traced = Vector.newBuilder[PassResult]
    var n = 0
    while (n < MinWarmPasses || System.nanoTime() < deadline) {
      warm += withCpu(w.pass(spark, None))
      tracer.foreach { t =>
        spark.sparkContext.addSparkListener(t)
        try traced += w.pass(spark, Some(t)) finally spark.sparkContext.removeSparkListener(t)
      }
      n += 1
    }
    val warmPasses = warm.result()
    val tracedPasses = traced.result()
    val (checkAttempted, checkFailed) = w.finalCheck(spark)
    val confDigest = sha256(spark.conf.getAll.toSeq.sorted
      .filterNot { case (k, v) => VolatileConf(k) || v.contains(a.work.toString) }
      .map { case (k, v) => s"$k=$v" }.mkString("\n"))
    stop(spark)
    val peakHeap = peakHeapUsedMb()
    val ticksEnd = cpuTicks()

    val all = (cold +: warmPasses) ++ tracedPasses
    val attempted = all.map(_.attempted).sum + checkAttempted
    val failed = all.map(_.failed).sum + checkFailed
    // run_s: each operation's best time over the warm passes, summed, as
    // graft.Bench reports a suite (for the importer, the best pass). The JIT
    // still speeds passes up after the cold one, and a moment of host
    // contention then moves only the operations it slowed in every pass.
    val runS = warmPasses.flatMap(_.opSeconds).groupBy(_._1).values.map(_.map(_._2).min).sum
    val ops = warmPasses.flatMap(_.opSeconds.map(_._2))
    val endToEnd = Seq(
      "setup_s" -> (setupSeconds, "s"),
      "cold_run_s" -> (cold.seconds, "s"),
      "run_s" -> (runS, "s"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))
    val metrics: Seq[(String, (Double, String))] =
      if (!a.trace) endToEnd
      else {
        val layerNames = Layers.all
        val med = layerNames.map { case (name, unit) =>
          name -> (median(tracedPasses.map(_.layers.getOrElse(name, 0.0))), unit)
        }.toMap
        val overhead = median(tracedPasses.map(_.seconds)) - median(warmPasses.map(_.seconds))
        layerNames.map { case (name, unit) =>
          if (name == "trace_overhead_s") name -> (overhead, unit) else name -> med(name)
        }
      }

    val env = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "trace" -> (if (a.trace) "1" else "0"),
      "commit" -> Json.str(a.commit),
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "local_cores" -> Cores.toString,
      "load_avg_start" -> Json.num(loadStart),
      "load_avg_end" -> Json.num(loadAvg()),
      "cpu_steal_share" -> Json.num((ticksEnd._1 - ticksStart._1).toDouble / math.max(1L, ticksEnd._2 - ticksStart._2)),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "heap_peak_used_mb" -> Json.num(peakHeap),
      "spark_conf_sha256" -> Json.str(confDigest),
      "input_generation_s" -> Json.num(genSeconds),
      "warm_passes_s" -> warmPasses.map(p => Json.num(p.seconds)).mkString("[", ",", "]"),
      "warm_passes_cpu_s" -> warmPasses.map(p => Json.num(p.cpuSeconds)).mkString("[", ",", "]"),
      "cold_pass_cpu_s" -> Json.num(cold.cpuSeconds),
      "traced_passes_s" -> tracedPasses.map(p => Json.num(p.seconds)).mkString("[", ",", "]"),
      "rows_per_s" -> Json.num(if (w.inputRows > 0) w.inputRows / runS else Double.NaN),
      "op_p50_s" -> Json.num(percentile(ops, 0.5)),
      "op_p90_s" -> Json.num(percentile(ops, 0.9)),
      "op_samples" -> ops.size.toString,
      "fail_ratio" -> Json.num(failed.toDouble / math.max(1, attempted))))
    println(s"""{"env":$env}""")
    tracedPasses.lastOption.foreach(p => Files.write(a.work.resolve("trace.json"), p.trace.getBytes(UTF_8)))

    val metricJson = Json.obj(metrics.map { case (name, (v, unit)) =>
      name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
    })
    val correct = failed == 0 && metrics.forall { case (_, (v, _)) => !v.isNaN && !v.isInfinite }
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$metricJson}""")
  }
}

/** Every per-layer metric a traced run reports, with its unit. A traced
  * run of one workload reports 0 for the layers it does not run.
  */
object Layers {
  val ImporterLayers = Seq("ingest", "validate", "dedup", "rules", "project", "sinks")

  val Families: Seq[String] = Queries.families.map(_._1)

  val all: Seq[(String, String)] =
    ImporterLayers.flatMap { l =>
      Seq(s"$l.self_s" -> "s", s"$l.jobs" -> "count", s"$l.tasks" -> "count",
        s"$l.task_run_s" -> "s", s"$l.gc_s" -> "s", s"$l.shuffle_write_bytes" -> "bytes",
        s"$l.shuffle_read_bytes" -> "bytes", s"$l.input_bytes" -> "bytes",
        if (l == "sinks") s"$l.bytes_written" -> "bytes" else s"$l.rows_out" -> "count")
    } ++ Seq(
      "pipeline.source_scans" -> "ratio",
      "pipeline.shuffle_reuse" -> "ratio",
      "pipeline.driver_gap_s" -> "s",
      "pipeline.spill_bytes" -> "bytes",
      "sinks.bytes_per_input_byte" -> "ratio") ++
    Families.flatMap(f => Seq(s"queries.$f.build_s" -> "s", s"queries.$f.exec_s" -> "s")) ++
    Seq(
      "queries.build_jobs" -> "count",
      "queries.jobs" -> "count",
      "queries.tasks" -> "count",
      "queries.task_run_s" -> "s",
      "queries.gc_s" -> "s",
      "queries.shuffle_bytes" -> "bytes",
      "queries.spill_bytes" -> "bytes",
      "queries.driver_gap_s" -> "s",
      "trace_overhead_s" -> "s")
}
