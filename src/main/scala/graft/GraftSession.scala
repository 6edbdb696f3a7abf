package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession

/** The one way this project builds a session: `local[cores]` with one
  * shuffle partition per core, UI off, UTC, AQE on, TIMESTAMP(NANOS)
  * parquet read as raw longs (`Tables.events` normalizes every shape),
  * and the native functions installed by [[GraftExtensions]] — so no
  * `GraftFunctions.register` call is needed on a session built here.
  * Callers chain only what they change on top, then `getOrCreate()`.
  */
object GraftSession {

  /** `cores` defaults to `SPARK_GRAFT_CPUS`, or 32 when unset. */
  def builder(cores: Int = positiveIntEnv("SPARK_GRAFT_CPUS", 32)): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .withExtensions(new GraftExtensions)

  /** An integer env dial that must be positive, or `default` if unset.
    * A bad value fails here, naming the variable and the value, rather
    * than later as a bare parse error or a master-URL error.
    */
  def positiveIntEnv(name: String, default: Int): Int =
    sys.env.get(name).fold(default)(parsePositive(name, _))

  def parsePositive(name: String, value: String): Int =
    value.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"$name must be a positive integer, got '$value'"))
}
