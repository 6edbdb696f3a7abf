package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.temporal.ChronoUnit
import scala.collection.mutable
import scala.util.Random

/** What a correct pipeline pass over a corpus must report, tallied while
  * the corpus is generated: the generator knows which single defect each
  * row carries and which row of a repeated key survives dedup.
  */
final case class Tally(
    totalRows: Long,
    validRows: Long,
    schemaErrorRows: Long,
    duplicateRowsRemoved: Long,
    customInvalidRows: Long) {
  /** Rows that reach the projections (both projections select every row). */
  def stageRows: Long = validRows - duplicateRowsRemoved - customInvalidRows
}

/** A generated importer input: `source` is a file or a directory of files. */
final case class Corpus(source: Path, rows: Long, bytes: Long, tally: Tally)

/** Seeded employee CSV generators for the two importer workloads. The
  * same seed writes byte-identical files.
  *
  * Each invalid row carries exactly one schema defect, so the validator
  * reports it once. Valid rows may repeat an earlier (employee_id,
  * company_id) key; the tally keeps the surviving occurrence's birthday
  * to count `age_gte(35)` failures at [[AsOf]].
  */
object Corpus {

  val AsOf: LocalDate = LocalDate.parse("2026-01-01")
  val MinAge = 35L

  private val Countries = Array("ES", "FR", "PT", "DE", "GB", "US", "IT", "NL")

  /** Issues row keys and tallies the rows dedup keeps under `resolution`. */
  private final class Keys(resolution: String) {
    // key -> birthday of the occurrence dedup keeps
    private val kept = mutable.HashMap.empty[(Long, Int), LocalDate]
    private var valid = 0L
    private var invalid = 0L
    private val issued = mutable.ArrayBuffer.empty[(Long, Int)]

    /** A key for the next row: a repeat of an issued key with probability `dupShare`. */
    def next(rnd: Random, id: Long, companies: Int, dupShare: Double): (Long, Int) =
      if (issued.nonEmpty && rnd.nextDouble() < dupShare) issued(rnd.nextInt(issued.size))
      else (id, 1 + rnd.nextInt(companies))

    def record(key: (Long, Int), birthday: LocalDate, isValid: Boolean): Unit =
      if (!isValid) invalid += 1
      else {
        valid += 1
        if (!kept.contains(key)) issued += key
        if (resolution == "last" || !kept.contains(key)) kept(key) = birthday
      }

    def tally: Tally = {
      val underAge = kept.valuesIterator.count(b => ChronoUnit.YEARS.between(b, AsOf) < MinAge)
      Tally(valid + invalid, valid, invalid, valid - kept.size, underAge.toLong)
    }
  }

  private def birthday(rnd: Random): LocalDate =
    LocalDate.of(1950 + rnd.nextInt(60), 1 + rnd.nextInt(12), 1 + rnd.nextInt(28))

  private def date(rnd: Random, from: Int, years: Int): String =
    LocalDate.of(from + rnd.nextInt(years), 1 + rnd.nextInt(12), 1 + rnd.nextInt(28)).toString

  private def writer(p: Path): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p), UTF_8), 1 << 16)

  /** `config/files8.yaml`, used by the self-test: the 8-field employees
    * shape across `files` CSVs named part-00000.csv, ... so file-aware ids
    * follow generation order.
    * Keep-last dedup; about 2% of rows carry one defect and 1.5% repeat a key.
    */
  def files8(dir: Path, seed: Long, files: Int, rowsPerFile: Int): Corpus = {
    Files.createDirectories(dir)
    val rnd = new Random(seed)
    val keys = new Keys("last")
    var id = 0L
    for (f <- 0 until files) {
      val w = writer(dir.resolve(f"part-$f%05d.csv"))
      try {
        w.write("company_id,employee_id,first_name,last_name,email,gender,birthday_on,country\n")
        for (_ <- 0 until rowsPerFile) {
          id += 1
          val key = keys.next(rnd, id, 3, 0.015)
          val bday = birthday(rnd)
          var eid = key._1.toString
          var first = s"First$id"
          var email = s"u$id.${key._2}@example.com"
          var gender = if (rnd.nextBoolean()) "female" else "male"
          var bdayText = bday.toString
          val defect = if (rnd.nextDouble() < 0.02) rnd.nextInt(5) else -1
          defect match {
            case 0 => email = s"u$id.example.com"
            case 1 => bdayText = f"${bday.getYear}%04d-13-${bday.getDayOfMonth}%02d"
            case 2 => gender = "unknown"
            case 3 => eid = s"x$eid"
            case 4 => first = ""
            case _ => ()
          }
          keys.record(key, bday, defect < 0)
          w.write(s"${key._2},$eid,$first,Last$id,$email,$gender,$bdayText,${Countries(rnd.nextInt(Countries.length))}\n")
        }
      } finally w.close()
    }
    Corpus(dir, id, sizeOf(dir), keys.tally)
  }

  val Wide24Header: String =
    "company_id,employee_id,first_name,last_name,email,gender,birthday_on,country," +
      "effective_on,starts_on,ends_on,has_payroll,has_trial_period,trial_period_ends_on," +
      "salary_amount,salary_frequency,working_week_days,working_hours,working_hours_frequency," +
      "max_legal_yearly_hours,maximum_weekly_hours,created_at,updated_at,contracts_es_tariff_group_id"

  private val Frequencies = Array("yearly", "monthly", "weekly", "daily", "hourly")
  private val HoursFrequencies = Array("week", "month", "year")

  /** `import_wide24`: one CSV with the reference's 24 employee fields.
    * The config's compat mode keeps the first occurrence of a key. About
    * 10% of rows carry one defect, spread over the email, bool, float,
    * enum and int fields; 1.5% repeat a key.
    */
  def wide24(file: Path, seed: Long, rows: Int): Corpus = {
    Files.createDirectories(file.getParent)
    val rnd = new Random(seed)
    val keys = new Keys("first")
    val w = writer(file)
    try {
      w.write(Wide24Header + "\n")
      for (i <- 1 to rows) {
        val id = i.toLong
        val key = keys.next(rnd, id, 5, 0.015)
        val bday = birthday(rnd)
        var email = s"first$id.last@corp${key._2}.com"
        var payroll = if (rnd.nextBoolean()) "true" else "false"
        var salary = s"${20000 + rnd.nextInt(60000)}.${rnd.nextInt(100)}"
        var frequency = Frequencies(rnd.nextInt(Frequencies.length))
        var hours = (20 + rnd.nextInt(21)).toString
        val defect = if (rnd.nextDouble() < 0.10) rnd.nextInt(5) else -1
        defect match {
          case 0 => email = s"first$id.last.corp${key._2}.com"
          case 1 => payroll = "maybe"
          case 2 => salary = s"${salary}k"
          case 3 => frequency = "fortnightly"
          case 4 => hours = s"${hours}h"
          case _ => ()
        }
        keys.record(key, bday, defect < 0)
        val starts = date(rnd, 2015, 10)
        w.write(
          s"${key._2},${key._1},First$id,Last$id,$email,${if (rnd.nextBoolean()) "female" else "male"}," +
            s"$bday,${Countries(rnd.nextInt(Countries.length))},$starts,$starts,${date(rnd, 2026, 4)}," +
            s"$payroll,${rnd.nextBoolean()},${date(rnd, 2015, 10)},$salary,$frequency," +
            "\"monday,tuesday,wednesday,thursday,friday\"," +
            s"$hours,${HoursFrequencies(rnd.nextInt(HoursFrequencies.length))},${1600 + rnd.nextInt(600)}," +
            s"${35 + rnd.nextInt(10)},${date(rnd, 2015, 10)},${date(rnd, 2020, 6)},${1 + rnd.nextInt(12)}\n")
      }
    } finally w.close()
    Corpus(file, rows.toLong, Files.size(file), keys.tally)
  }

  def sizeOf(p: Path): Long =
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.mapToLong(f => Files.size(f)).sum() finally s.close()
    } else Files.size(p)
}
