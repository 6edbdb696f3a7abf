package perfbench

import graft.config.PipelineConfig
import graft.dedup.Dedup
import graft.ingest.CsvIngest
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline.PipelineSummary
import graft.project.Projections
import graft.rules.CustomRules
import graft.sinks.Sinks
import graft.validate.SchemaValidator
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** An importer workload: one pass is one `Pipeline.run` of the `employees`
  * entity over the generated corpus, into a fresh output directory.
  *
  * A pass fails when it throws, or when its `PipelineSummary`, the line
  * counts of its exports or of its error CSVs differ from the tally the
  * generator made.
  */
final class Importer(
    work: Path,
    configFile: Path,
    generator: (Path, Long) => Corpus,
    seed: Long) extends Workload {

  private val entity = "employees"
  private val config = PipelineConfig.load(configFile.toString)
  private var corpus: Corpus = _
  private var passNo = 0

  def generate(): Unit = corpus = generator(work.resolve("input"), seed)

  override def inputRows: Long = corpus.rows

  def input: Corpus = corpus

  private def nextOut(): Path = { passNo += 1; work.resolve(s"out-$passNo") }

  def pass(spark: SparkSession, tracer: Option[Tracer]): PassResult = {
    val out = nextOut()
    val t0 = System.nanoTime()
    val attempt = scala.util.Try(tracer match {
      case None    => (Pipeline.run(spark, config, entity, out.toString, Corpus.AsOf, Some(corpus.source.toString)), Map.empty[String, Double], "")
      case Some(t) => tracedRun(spark, t, out)
    })
    val seconds = (System.nanoTime() - t0) / 1e9
    val failed = attempt match {
      case scala.util.Failure(e) =>
        System.err.println(s"[perfbench] pass failed: $e")
        1
      case scala.util.Success((r, _, _)) =>
        val problems = Importer.check(r.summary, out, corpus.tally, entity)
        problems.foreach(p => System.err.println(s"[perfbench] output check: $p"))
        r.unpersist()
        if (problems.isEmpty) 0 else 1
    }
    Importer.delete(out)
    PassResult(seconds, 1, failed, Seq("pass" -> seconds), attempt.map(_._2).getOrElse(Map.empty), attempt.map(_._3).getOrElse(""))
  }

  /** `Pipeline.run` step by step, in its order and with its
    * materialization barriers, each call wrapped in a span named after
    * its layer. `CsvIngest.read`'s output gets one extra noop pass so the
    * ingest layer has a time of its own; validate's self time is its
    * barrier time minus that pass.
    */
  private[perfbench] def tracedRun(spark: SparkSession, t: Tracer, out: Path)
      : (Pipeline.PipelineResult, Map[String, Double], String) = {
    t.clear()
    val spec0 = config.entity(entity)
    val spec = spec0.copy(source = corpus.source.toString)
    val outDir = out.toString
    var noopSeconds = 0.0
    val result = t.span("pass") {
      val input = t.span("ingest") {
        val df = CsvIngest.read(spark, spec, fileAware = spec.settings.fileAware)
        val n0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        noopSeconds = (System.nanoTime() - n0) / 1e9
        df
      }
      val (vr, schemaErrors, schemaErrorCount) = t.span("validate") {
        val vr = SchemaValidator.validate(input, spec.fields)
        val errors = vr.errors.persist(StorageLevel.MEMORY_AND_DISK)
        (vr, errors, errors.count())
      }
      t.span("sinks")(Sinks.saveErrors(schemaErrors, "schema_validation", entity, outDir))
      val (raw, validRows) = t.span("validate") {
        val raw = vr.valid.persist(StorageLevel.MEMORY_AND_DISK)
        (raw, raw.count())
      }
      require(!(schemaErrorCount > 0 && spec.settings.customValidationMode == "stop"),
        "the traced pass covers skip-mode configs only")
      val (dd, duplicates, duplicatesRemoved) = t.span("dedup") {
        val dd = Dedup(raw, spec.settings.uniqueComposite, spec.settings.effectiveResolution)
        val dups = dd.removed.persist(StorageLevel.MEMORY_AND_DISK)
        (dd, dups, dups.count())
      }
      if (duplicatesRemoved > 0)
        t.span("sinks")(Sinks.saveErrors(duplicates, "duplicates", entity, outDir))
      val rr = t.span("rules") {
        CustomRules.execute(dd.survivors, spec.rules, spec.settings.customValidationMode, Corpus.AsOf)
      }
      t.span("sinks") {
        for (issue <- rr.issues)
          Sinks.saveErrors(issue.invalidRows, s"custom_${issue.field}", entity, outDir)
      }
      val (stage, projections) = t.span("project") {
        val stage = rr.survivors.persist(StorageLevel.MEMORY_AND_DISK)
        (stage, Projections.run(spark, stage.orderBy(CsvIngest.RowId).drop(CsvIngest.RowId), spec))
      }
      t.span("sinks") {
        for (p <- projections)
          Sinks.exportProjection(p.df, p.spec.name, outDir, format = spec.exportFormat)
      }
      val projectionRows = t.span("project")(projections.map(p => p.spec.name -> p.df.count()).toMap)
      Pipeline.PipelineResult(
        PipelineSummary(validRows + schemaErrorCount, validRows, schemaErrorCount,
          rr.totalInvalidRows, duplicatesRemoved, projectionRows, stoppedAtSchemaErrors = false),
        Some(stage), schemaErrors, Some(duplicates), rr.issues, projections,
        intermediateCaches = dd.cached ++ rr.cached)
    }
    t.drain()
    val snap = t.snapshot()
    val s = result.summary
    val rowsOut = Map(
      "ingest" -> s.totalRows.toDouble,
      "validate" -> s.validRows.toDouble,
      "dedup" -> (s.validRows - s.duplicateRowsRemoved).toDouble,
      "rules" -> (s.validRows - s.duplicateRowsRemoved - s.customInvalidRows).toDouble,
      "project" -> s.projectionRows.values.sum.toDouble)
    val layers = Layers.ImporterLayers.flatMap { l =>
      val c = snap.countsOf(l)
      val self = snap.selfSeconds(l) - (if (l == "validate") noopSeconds else 0.0)
      Seq(
        s"$l.self_s" -> self,
        s"$l.jobs" -> c.jobs.toDouble,
        s"$l.tasks" -> c.tasks.toDouble,
        s"$l.task_run_s" -> c.runMs / 1e3,
        s"$l.gc_s" -> c.gcMs / 1e3,
        s"$l.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
        s"$l.shuffle_read_bytes" -> c.shuffleRead.toDouble,
        s"$l.input_bytes" -> c.input.toDouble,
        if (l == "sinks") s"$l.bytes_written" -> c.output.toDouble else s"$l.rows_out" -> rowsOut(l))
    }.toMap
    val total = snap.total
    val root = snap.spans.head
    val unattributed = snap.unattributedJobs.size
    val pipeline = Map(
      "pipeline.source_scans" -> total.sourceInput.toDouble / corpus.bytes,
      "pipeline.shuffle_reuse" -> (if (total.shuffleWrite == 0) 0.0 else total.shuffleRead.toDouble / total.shuffleWrite),
      "pipeline.driver_gap_s" -> snap.driverGapSeconds(root.startMs, root.endMs),
      "pipeline.spill_bytes" -> total.spill.toDouble,
      "sinks.bytes_per_input_byte" -> snap.countsOf("sinks").output.toDouble / corpus.bytes)
    if (unattributed > 0) throw new IllegalStateException(s"$unattributed jobs ran outside every span")
    (result, layers ++ pipeline, snap.toJson)
  }
}

object Importer {

  /** One CSV of 40,000 rows. */
  def wide24(work: Path, benchDir: Path, seed: Long): Importer =
    new Importer(work, benchDir.resolve("config/wide24.yaml"),
      (dir, s) => Corpus.wide24(dir.resolve("employees.csv"), s, 40000),
      seed)

  /** Differences between a pass's outputs and the generator's tally. */
  def check(s: PipelineSummary, out: Path, t: Tally, entity: String): Seq[String] = {
    val want = Seq(
      "totalRows" -> (s.totalRows, t.totalRows),
      "validRows" -> (s.validRows, t.validRows),
      "schemaErrorRows" -> (s.schemaErrorRows, t.schemaErrorRows),
      "duplicateRowsRemoved" -> (s.duplicateRowsRemoved, t.duplicateRowsRemoved),
      "customInvalidRows" -> (s.customInvalidRows, t.customInvalidRows)) ++
      s.projectionRows.toSeq.map { case (n, v) => s"projectionRows.$n" -> (v, t.stageRows) }
    def lines(p: Path): Long =
      if (!Files.exists(p)) 0L
      else {
        val in = Files.newInputStream(p)
        try {
          val buf = new Array[Byte](1 << 16)
          var n = 0L
          var r = in.read(buf)
          while (r > 0) { var i = 0; while (i < r) { if (buf(i) == '\n') n += 1; i += 1 }; r = in.read(buf) }
          n
        } finally in.close()
      }
    def dataLines(n: Long) = if (n == 0) 0L else n + 1
    val files = Seq(
      s"errors/${entity}_schema_validation_errors.csv" -> dataLines(t.schemaErrorRows),
      s"errors/${entity}_duplicates_errors.csv" -> dataLines(t.duplicateRowsRemoved),
      s"errors/${entity}_custom_birthday_on_errors.csv" -> dataLines(t.customInvalidRows),
      "exports/personal_data.csv" -> (t.stageRows + 1),
      "exports/contract_data.csv" -> (t.stageRows + 1))
    val expectedProjections = Set("personal_data", "contract_data")
    (if (s.projectionRows.keySet != expectedProjections)
       Seq(s"projections ${s.projectionRows.keySet} != $expectedProjections") else Nil) ++
      (want ++ files.map { case (f, n) => f -> (lines(out.resolve(f)), n) }).collect {
        case (name, (got, exp)) if got != exp => s"$name: $got != expected $exp"
      }
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_)) finally s.close()
    }
}
