package graft.ingest

import graft.config.EntitySpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** CSV source (reference main.py:432 pd.read_csv).
  *
  * All columns are read as strings so type errors are catchable per
  * row downstream (the reference gets this from pandas+Pydantic; we
  * get it by deferring the cast to the validator's expressions).
  *
  * Row identity: the reference relies on DuckDB ROWID / pandas index
  * (main.py:78,135). Spark has no stable implicit order, so we mint an
  * explicit dense 1-based `_row_id` (reference parity — pandas
  * `index + 1`, main.py:78) with RDD `zipWithIndex`, which is fully
  * distributed (one lightweight job to count per-partition sizes, then
  * a per-partition offset add) — no single-partition window, no global
  * sort, survives a 100× scale-up.
  */
object CsvIngest {

  val RowId = "_row_id"

  /** Format-dispatching source reader (the "universal importer"
    * surface): csv is the reference's path; json/parquet/orc sources are
    * normalized to all-string columns so the same lexical validation
    * pipeline applies regardless of the wire format.
    */
  /** `fileAware=true` (csv only) mints layout-independent multi-file
    * ids via [[readPathFileAware]] (file order × in-file offset, also
    * dense). Unsupported format+fileAware combinations throw rather
    * than silently handing back layout-dependent ids the caller asked
    * to avoid.
    */
  def read(spark: SparkSession, spec: EntitySpec, fileAware: Boolean = false): DataFrame =
    spec.format match {
      case "csv" if fileAware => readPathFileAware(spark, spec.source)
      case other if fileAware =>
        throw new IllegalArgumentException(
          s"file_aware row ids are only supported for csv sources (entity '${spec.name}' has format '$other')")
      case "csv" => readPath(spark, spec.source)
      case "json" | "parquet" | "orc" =>
        val raw = spark.read.format(spec.format).load(spec.source)
        withDenseRowIds(raw.select(raw.columns.map(c => col(c).cast("string").as(c)): _*))
      case other =>
        throw new IllegalArgumentException(s"unsupported source format '$other' for entity '${spec.name}'")
    }

  def readPath(spark: SparkSession, path: String): DataFrame =
    withDenseRowIds(spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .csv(path))

  /** Append 1-based dense input-order row ids via zipWithIndex. */
  def withDenseRowIds(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields :+ StructField(RowId, LongType, nullable = false))
    val rdd = df.rdd.zipWithIndex().map { case (row, idx) =>
      Row.fromSeq(row.toSeq :+ (idx + 1L))
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Multi-file CSV read with FILE-AWARE dense 1-based `_row_id`:
    * identity = (file path order, row order within file), so
    * keep-first/keep-last dedup is reproducible no matter how Spark
    * parallelizes the read — the property SURVEY §7.4(1) asks for at
    * the 100 TB multi-file scale, where `withDenseRowIds`' global
    * zipWithIndex order would depend on partition layout.
    *
    * Mechanics (all Catalyst-native — no `.rdd` lineage break):
    *   - `multiLine=true` makes each CSV file a single unsplittable
    *     read unit, so a file's rows are contiguous in one partition
    *     in input order, and `monotonically_increasing_id` is
    *     order-consistent with in-file position;
    *   - `row_number() over (partition by file order by mid)` mints the
    *     within-file offset (shuffles by file — bounded by file size);
    *   - per-file row counts (one row per file) get cumulative bases
    *     via a window over the tiny file table, broadcast-joined back.
    *
    * Files are ordered by lexical path (name multi-part inputs
    * part-00000, part-00001, … as writers already do).
    */
  def readPathFileAware(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("multiLine", "true")
      .csv(path)
    val tagged = raw
      .select(raw.columns.map(col) :+ col("_metadata.file_path").as(FileTag): _*)
    mintFileAwareIds(tagged, raw.columns.toSeq)
  }

  /** Column under which [[readPathFileAware]] / the streaming ingest
    * tag each row's source file before minting ids.
    */
  val FileTag = "_file"

  /** Mint file-aware dense 1-based ids over a frame tagged with
    * [[FileTag]], where each file was read as an UNSPLITTABLE unit
    * (`multiLine=true`), so a file's rows are contiguous in one
    * partition in input order and `monotonically_increasing_id` is
    * order-consistent with in-file position. Shared by the batch
    * multi-file reader and the streaming micro-batch ingest — identity
    * = (lexical file path order, row order within file), independent
    * of partition layout.
    */
  def mintFileAwareIds(tagged: DataFrame, dataCols: Seq[String]): DataFrame = {
    val withSeq = tagged.withColumn("_seq", monotonically_increasing_id())
    val inFileW = Window.partitionBy(col(FileTag)).orderBy(col("_seq"))
    val withIn = withSeq.withColumn("_in_file", row_number().over(inFileW).cast("long"))
    val baseW = Window.orderBy(col(FileTag))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = withIn.groupBy(col(FileTag)).agg(count(lit(1)).as("_n"))
      .withColumn("_base", coalesce(sum(col("_n")).over(baseW), lit(0L)))
      .select(col(FileTag), col("_base"))
    withIn.join(broadcast(bases), FileTag)
      .withColumn(RowId, col("_base") + col("_in_file"))
      .select(dataCols.map(col) :+ col(RowId): _*)
  }
}
