package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}
import scala.collection.mutable

/** Row count plus an order-insensitive content hash of a query result:
  * columns in name order, doubles rounded to 9 decimals (the rounding the
  * DuckDB oracle check applies), rows sorted before hashing.
  */
final case class Digest(rows: Long, hash: String)

object QueryCheck {

  def digest(df: DataFrame): Digest = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = df.collect().map(r => order.map(i => render(r.get(i))).mkString("\u0001"))
    java.util.Arrays.sort(lines.asInstanceOf[Array[AnyRef]])
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    Digest(lines.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  private def round(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else new JBigDecimal(d).setScale(9, RoundingMode.HALF_EVEN).stripTrailingZeros.toPlainString

  private def render(v: Any): String = v match {
    case null                 => "\u2205"
    case d: Double            => round(d)
    case f: Float             => round(f.toDouble)
    case b: Array[Byte]       => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row               => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other                => other.toString
  }

  /** Expected digests as written by [[toJson]]; `stable` is false for a
    * query whose hash differed between two runs of the same code, which
    * is then checked by row count only.
    */
  final case class Expected(rows: Long, hash: String, stable: Boolean)

  def toJson(entries: Seq[(String, Expected)]): String =
    entries.sortBy(_._1).map { case (n, e) =>
      s"""  ${Json.str(n)}: {"rows": ${e.rows}, "hash": ${Json.str(e.hash)}, "stable": ${e.stable}}"""
    }.mkString("{\n", ",\n", "\n}\n")

  private val Entry = "\"([^\"]+)\": \\{\"rows\": (\\d+), \"hash\": \"([0-9a-f]*)\", \"stable\": (true|false)\\}".r

  def parse(text: String): Map[String, Expected] = {
    val out = mutable.LinkedHashMap.empty[String, Expected]
    for (m <- Entry.findAllMatchIn(text))
      out(m.group(1)) = Expected(m.group(2).toLong, m.group(3), m.group(4).toBoolean)
    out.toMap
  }

  /** None when `got` matches `want`, else the reason it does not. */
  def mismatch(want: Expected, got: Digest): Option[String] =
    if (want.rows != got.rows) Some(s"rows ${got.rows} != expected ${want.rows}")
    else if (want.stable && want.hash != got.hash) Some(s"hash ${got.hash} != expected ${want.hash}")
    else None
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  /** A number with all its digits; non-finite values become null. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
