package graft.sinks

import graft.ingest.CsvIngest.RowId
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** CSV sinks matching the reference's output layout:
  * `output/exports/{name}.csv` per projection (main.py:300-326) and
  * `output/errors/{entity}_{type}_errors.csv` per error set
  * (main.py:367-399). csv and json sinks reproduce the reference's
  * one-file-per-output layout via coalesce(1) + rename — the right
  * call for an export the size a config-driven import handles.
  */
object Sinks {

  def exportProjection(df: DataFrame, name: String, outputDir: String,
      format: String = "csv"): String = format match {
    case "csv" | "json" =>
      writeSingle(ordered(df), s"$outputDir/exports", s"$name.$format", format)
    case "parquet" | "orc" =>
      // columnar exports are inherently sharded; no single-file contortion
      val target = s"$outputDir/exports/$name.$format"
      ordered(df).write.mode("overwrite").format(format).save(target)
      target
    case other =>
      throw new IllegalArgumentException(s"unsupported export format '$other'")
  }

  /** save_errors parity: an `errors` array column is flattened to a
    * "; "-joined string (main.py:391); rows ordered by the original
    * row id; `row`/`errors` lead the column list like the reference's
    * structured error records (main.py:388-394); the internal
    * `_row_id` never reaches the file (the reference exports its `rn`
    * but not its ROWID).
    */
  def saveErrors(df: DataFrame, errorType: String, entity: String, outputDir: String): Option[String] = {
    if (df.isEmpty) None
    else {
      val flat = df.schema.find(_.name == "errors") match {
        case Some(f) if f.dataType.typeName == "array" =>
          df.withColumn("errors", concat_ws("; ", col("errors")))
        case _ => df
      }
      val lead = Seq("row", "errors").filter(flat.columns.contains)
      val rest = flat.columns.filterNot(c => lead.contains(c) || c == RowId)
      val shaped = ordered(flat).select((lead ++ rest).map(col): _*)
      Some(writeSingle(shaped, s"$outputDir/errors", s"${entity}_${errorType}_errors.csv", "csv"))
    }
  }

  /** Hive-style partitioned dataset sink (the training-shard layout:
    * `dir/col=value/part-*.parquet`). Rows are repartitioned on the
    * partition columns first so each output partition is written by
    * the tasks that own its rows — no small-file explosion from every
    * task touching every partition — and partition pruning works for
    * downstream readers that filter on the layout columns.
    *
    * `filesPerPartition` bounds hot-value skew: hashing a partition
    * value to ONE task means a dominant value (e.g. `split=train`
    * holding 80% of rows) is written by a single straggling task as
    * one huge file. A deterministic row-hash salt fans each partition
    * value across up to `filesPerPartition` tasks/files; small values
    * still collapse to few files. Size it to ~rows(hottest value) /
    * rows-per-task-budget at the target scale; 1 keeps the
    * one-file-per-value layout.
    */
  def writePartitioned(df: DataFrame, dir: String, partitionCols: Seq[String],
      format: String = "parquet", filesPerPartition: Int = 1): String = {
    require(partitionCols.nonEmpty, "writePartitioned needs at least one partition column")
    require(filesPerPartition >= 1, "filesPerPartition must be >= 1")
    val keys = partitionCols.map(col)
    val shuffled =
      if (filesPerPartition == 1) df.repartition(keys: _*)
      else {
        // salt from the hashable columns only — `hash` rejects MAP
        // types at analysis; a row id keeps the fan-out working for
        // frames with no hashable column at all
        def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
          case _: org.apache.spark.sql.types.MapType => false
          case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
          case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
          case _ => true
        }
        val saltSrc = df.schema.fields.filter(f => hashable(f.dataType))
          .map(f => col(s"`${f.name.replace("`", "``")}`"))
        val salt = pmod(
          if (saltSrc.nonEmpty) hash(saltSrc.toIndexedSeq: _*)
          else hash(monotonically_increasing_id()),
          lit(filesPerPartition))
        // a fresh name — overwriting a real user column would corrupt
        // then drop it
        val saltCol = Iterator.iterate("_salt")(_ + "_")
          .dropWhile(df.columns.contains).next()
        // explicit partition count: a bare repartition-by-column is an
        // AQE coalescing target, which would re-merge the salt groups
        // into one task and undo the fan-out
        val n = df.sparkSession.sessionState.conf.numShufflePartitions
        df.withColumn(saltCol, salt)
          .repartition(n, keys :+ col(saltCol): _*)
          .drop(saltCol)
      }
    shuffled
      .write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .format(format)
      .save(dir)
    dir
  }

  private def ordered(df: DataFrame): DataFrame =
    if (df.columns.contains(RowId)) df.orderBy(col(RowId))
    else if (df.columns.contains("row")) df.orderBy(col("row"))
    else df

  private def writeSingle(df: DataFrame, dir: String, fileName: String, format: String): String = {
    Files.createDirectories(Paths.get(dir))
    val target = s"$dir/$fileName"
    val tmp = s"$dir/.tmp_$fileName"
    val w = df.coalesce(1).write.mode("overwrite")
    (if (format == "csv") w.option("header", "true") else w).format(format).save(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file written under $tmp"))
    Files.move(part, Paths.get(target), StandardCopyOption.REPLACE_EXISTING)
    // clean the temp dir (part metadata, _SUCCESS)
    Files.walk(Paths.get(tmp)).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    target
  }
}
