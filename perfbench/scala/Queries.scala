package perfbench

import graft.Q
import graft.queries._
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.util.Random

/** The query workload: a fixed batch of `SparkEntry.queries` over the
  * committed sf0.01 tables, run in a seed-permuted order that changes
  * every pass. A query's time is its `fn(spark, dir)` call (build) plus
  * a noop write of the result (exec).
  *
  * The batch is the first query of each `graft.queries` family except
  * `StreamingQueries`, whose replays keep checkpoint state outside the
  * working directory. Result digests are checked against the committed
  * expected file after the timed passes.
  */
final class Queries(benchDir: Path, seed: Long) extends Workload {
  import Queries._

  private val dataDir = benchDir.resolve(DataDir).toString
  private val rnd = new Random(seed)

  def generate(): Unit = require(Files.isDirectory(benchDir.resolve(DataDir)), s"missing $DataDir")

  def pass(spark: SparkSession, tracer: Option[Tracer]): PassResult = {
    tracer.foreach(_.clear())
    val order = rnd.shuffle(batch)
    val t0 = System.nanoTime()
    val runs = order.map { case (family, q) => run(spark, tracer, family, q) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val traced = tracer.map { t =>
      t.drain()
      val snap = t.snapshot()
      val byFamily = Layers.Families.flatMap { f =>
        Seq(s"queries.$f.build_s" -> snap.selfSeconds(s"$f.build"),
          s"queries.$f.exec_s" -> snap.selfSeconds(s"$f.exec"))
      }
      val total = snap.total
      val buildJobs = snap.spans.filter(_.name.endsWith(".build")).map(s => snap.counts.get(s.id).map(_.jobs).getOrElse(0L)).sum
      val start = snap.spans.map(_.startMs).min
      val end = snap.spans.map(_.endMs).max
      if (snap.unattributedJobs.nonEmpty)
        throw new IllegalStateException(s"${snap.unattributedJobs.size} jobs ran outside every span")
      val layers = (byFamily ++ Seq(
        "queries.build_jobs" -> buildJobs.toDouble,
        "queries.jobs" -> total.jobs.toDouble,
        "queries.tasks" -> total.tasks.toDouble,
        "queries.task_run_s" -> total.runMs / 1e3,
        "queries.gc_s" -> total.gcMs / 1e3,
        "queries.shuffle_bytes" -> total.shuffleWrite.toDouble,
        "queries.spill_bytes" -> total.spill.toDouble,
        "queries.driver_gap_s" -> snap.driverGapSeconds(start, end))).toMap
      (layers, snap.toJson)
    }
    val ops = order.zip(runs).collect { case ((_, q), Some(s)) => q.name -> s }
    PassResult(seconds, runs.size, runs.count(_.isEmpty), ops,
      traced.fold(Map.empty[String, Double])(_._1), traced.fold("")(_._2))
  }

  /** Seconds the query took, or None when it threw. */
  private def run(spark: SparkSession, tracer: Option[Tracer], family: String, q: Q): Option[Double] = {
    def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))
    val t0 = System.nanoTime()
    try {
      span(q.name) {
        val df = span(s"$family.build")(q.fn(spark, dataDir))
        span(s"$family.exec")(df.write.format("noop").mode("overwrite").save())
      }
      Some((System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] ${q.name} failed: $e")
        None
    }
  }

  override def finalCheck(spark: SparkSession): (Int, Int) = {
    val expected = QueryCheck.parse(new String(Files.readAllBytes(benchDir.resolve(ExpectedFile)), UTF_8))
    val failures = batch.count { case (_, q) =>
      val problem = expected.get(q.name) match {
        case None => Some("no expected digest")
        case Some(want) =>
          try QueryCheck.mismatch(want, QueryCheck.digest(q.fn(spark, dataDir)))
          catch { case e: Exception => Some(e.toString) }
      }
      problem.foreach(p => System.err.println(s"[perfbench] output check ${q.name}: $p"))
      problem.nonEmpty
    }
    (batch.size, failures)
  }
}

object Queries {
  val DataDir = "data/sf0.01"
  val ExpectedFile = "expected/queries.json"

  /** The `graft.queries` families, named without the `Queries` suffix. */
  val families: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> RelationalQueries.all,
    "Pipeline" -> PipelineQueries.all,
    "Advanced" -> AdvancedQueries.all,
    "SetOp" -> SetOpQueries.all,
    "WindowStats" -> WindowStatsQueries.all,
    "Text" -> TextQueries.all,
    "Dedup" -> DedupQueries.all,
    "Similarity" -> SimilarityQueries.all,
    "Multimodal" -> MultimodalQueries.all,
    "Curation" -> CurationQueries.all,
    "Quality" -> QualityQueries.all,
    "Retrieval" -> RetrievalQueries.all)

  val batch: Seq[(String, Q)] = families.map { case (f, qs) => f -> qs.head }

  /** Writes the expected digests of the batch: each query runs twice in
    * one session, and a query whose two hashes differ is marked unstable.
    */
  def writeExpected(a: Main.Args): Unit = {
    val spark = Main.session(a.work)
    val dataDir = a.benchDir.resolve(DataDir).toString
    try {
      val entries = batch.map { case (_, q) =>
        val d1 = QueryCheck.digest(q.fn(spark, dataDir))
        val d2 = QueryCheck.digest(q.fn(spark, dataDir))
        require(d1.rows == d2.rows, s"${q.name}: row count differs between runs")
        if (d1.hash != d2.hash) System.err.println(s"[perfbench] ${q.name}: unstable hash, checked by row count")
        q.name -> QueryCheck.Expected(d1.rows, d1.hash, d1.hash == d2.hash)
      }
      Files.write(a.benchDir.resolve(ExpectedFile), QueryCheck.toJson(entries).getBytes(UTF_8))
    } finally Main.stop(spark)
  }
}
