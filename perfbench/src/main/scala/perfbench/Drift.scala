package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.Instant

import scala.util.Random

import graft.gen.FakeData

/** Seeded drifting-CSV generator for the write workloads.
  *
  * Every file carries `FakeData.MandatoryColumns` plus a sample of
  * optional columns taken from a window that slides over an endless
  * column universe: optional column `u` is `FakeData.OptionalColumns(u %
  * 70)`, renamed `"<name> <cycle>"` after the first cycle, so new
  * columns keep arriving for as long as batches are generated (plain
  * `FakeData.generate` stops evolving after a few batches). Every
  * `WidenEvery`-th batch forces one int column the table already holds
  * to values beyond the int range, so CSV inference reads it as bigint
  * and the table widens it. `Customer Id` is unique across the run.
  * A batch is `files` CSVs of `minRows` to `maxRows` rows. Every file
  * carries `OptionalPerFile` sampled columns (plus, in a batch's first
  * file, the columns the window just brought in), so the seed changes
  * which columns and values a batch holds but hardly its size.
  */
final class Drift(seed: Long, files: Int, minRows: Int, maxRows: Int,
    slide: Int = 2) {
  import Drift._

  private val universe = FakeData.OptionalColumns.toVector
  private val intCols: Set[String] = Set("Revenue", "Loyalty Points",
    "Previous Purchases", "Customer Rating", "Support Tickets",
    "Page Views", "Session Duration", "Altitude")

  private var fileCounter = 0
  private var widened = Set.empty[Int]
  private var seen = Set.empty[Int]

  def columnName(u: Int): String = {
    val base = universe(u % universe.length)._1
    if (u < universe.length) base else s"$base ${u / universe.length + 1}"
  }
  private def generatorOf(u: Int): Random => String =
    universe(u % universe.length)._2
  private def isInt(u: Int): Boolean =
    intCols.contains(universe(u % universe.length)._1)

  /** The optional column ids a batch draws from. */
  def windowOf(b: Int): Seq[Int] = (b * slide) until (b * slide + Window)

  /** Write batch `b` as CSV files under `dir`; `clock` is its ingest
    * timestamp.
    */
  def batch(dir: Path, b: Int, clock: Instant): Batch = {
    val r = new Random(seed * 1000003L + b)
    val win = windowOf(b)
    val fresh = win.takeRight(slide)
    // one int column an earlier batch wrote (so already a table
    // column) turns bigint in this batch
    val widen: Option[Int] =
      if (b % WidenEvery == WidenEvery - 1)
        win.find(u => seen(u) && isInt(u) && !widened(u))
      else None
    widen.foreach(u => widened += u)
    Files.createDirectories(dir)
    val metas = (0 until files).map { f =>
      val picked = r.shuffle(win.toVector).take(OptionalPerFile)
      val forced = if (f == 0) fresh ++ widen.toSeq else Seq.empty
      val optional = (forced ++ picked).distinct
      seen ++= optional
      val headers = FakeData.MandatoryColumns ++ optional.map(columnName)
      val rows = minRows + r.nextInt(maxRows - minRows + 1)
      val fileIndex = fileCounter
      fileCounter += 1
      val sb = new StringBuilder
      sb.append(headers.map(quote).mkString(",")).append('\n')
      val people = (0 until rows).map { i =>
        val p = Person(s"c$seed-$b-$f-$i", fileIndex * 10 + i,
          firstNames(r.nextInt(firstNames.length)),
          lastNames(r.nextInt(lastNames.length)))
        val date = f"${2015 + r.nextInt(10)}%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
        val opt = optional.map { u =>
          if (widen.contains(u)) (3000000000L + r.nextInt(1000000)).toString
          else FakeData.normalizeText(generatorOf(u)(r))
        }
        sb.append((Seq(p.index.toString, p.id, p.first, p.last, date) ++ opt)
          .map(quote).mkString(",")).append('\n')
        p
      }
      val path = dir.resolve(f"customers-$fileIndex%06d.csv")
      val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
      Files.write(path, bytes)
      FileMeta(path, headers, bytes.length.toLong, people)
    }
    Batch(dir, clock, metas, widen.map(u => normalize(columnName(u))))
  }
}

object Drift {
  /** Optional columns a batch draws from. */
  val Window = 12
  /** Every how many batches one int column widens to bigint. */
  val WidenEvery = 4
  /** Sampled optional columns per file. */
  val OptionalPerFile = 4

  final case class Person(id: String, index: Int, first: String, last: String)

  final case class FileMeta(path: Path, headers: Seq[String], bytes: Long,
      people: Seq[Person])

  final case class Batch(dir: Path, clock: Instant,
      files: Seq[FileMeta], widened: Option[String]) {
    def rows: Long = files.map(_.people.size.toLong).sum
    def bytes: Long = files.map(_.bytes).sum
    def columns: Set[String] = files.flatMap(_.headers).map(normalize).toSet
  }

  /** The ingest's column-name rule: lowercase, space and hyphen to `_`,
    * parentheses dropped. Restated here so the output check does not
    * trust the code it checks.
    */
  def normalize(name: String): String =
    name.toLowerCase.replace(" ", "_").replace("-", "_")
      .replace("(", "").replace(")", "")

  private val firstNames = Vector("James", "Mary", "Robert", "Patricia",
    "John", "Jennifer", "Michael", "Linda", "David", "Elizabeth")
  private val lastNames = Vector("Smith", "Johnson", "Williams", "Brown",
    "Jones", "Garcia", "Miller", "Davis", "Rodriguez", "Martinez")

  private def quote(v: String): String =
    if (v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + v.replace("\"", "\"\"") + "\""
    else v
}
