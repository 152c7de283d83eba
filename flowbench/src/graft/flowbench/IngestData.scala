package graft.flowbench

import graft.schema.TableSpec
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/** Seeded inputs for the ingest flows: a seed extract per table and K
  * daily `;`-separated all-string CSV deltas, shaped like the
  * reference's daily job sees them.
  *
  * Every day, each table's delta carries new rows, updates that reach
  * back across many (year, month) partitions, within-batch duplicate
  * ids (distinct `updated_at`, so the newest wins), rows exactly on
  * the watermark, stale rows below it, all six bool spellings plus a
  * junk value, and the table `emptyTable(d)` names gets an empty delta
  * (header only) on day d. Updates keep a row's `created_at`, so a key never moves
  * partition. Ids are zero-padded, so their string order is their
  * numeric order and range reads on `id` mean what they say. */
final class IngestData(val seed: Long, val tables: Seq[TableSpec],
    val seedRows: Int, val days: Int, val newPerDay: Int,
    val updPerDay: Int, emptyTable: Int => String) {

  import IngestData._

  /** Raw rows, aligned with `spec.columns`. */
  type Raw = Vector[String]

  val seedData: Map[String, Seq[Raw]] = tables.map { t =>
    val rnd = rng(seed, t.name, 0)
    t.name -> (1 to seedRows).map { i =>
      val created = SeedStart.plusSeconds(
        (rnd.nextDouble() * SeedSpanSecs).toLong)
      val updated = created.plusSeconds(rnd.nextInt(30 * 86400))
      val cappedUpd = if (updated.isBefore(DayZero)) updated
        else DayZero.minusSeconds(1 + rnd.nextInt(3600))
      row(t, rnd, id(i), created, cappedUpd)
    }
  }.toMap

  /** Probe time of day `d` (1-based): the source clock the run
    * captures at batch start, which becomes the next watermark. */
  def probe(d: Int): LocalDateTime = DayZero.plusDays(d.toLong).plusHours(4)

  /** Watermark in force on day `d`: the cold-start default (yesterday
    * midnight of the day-1 clock) on day 1, the previous probe after. */
  def watermark(d: Int): LocalDateTime =
    if (d == 1) probe(1).toLocalDate.atStartOfDay.minusDays(1)
    else probe(d - 1)

  /** Day deltas, generated in order: later days update ids earlier
    * days created. */
  val dayData: IndexedSeq[Map[String, Seq[Raw]]] = {
    val created = scala.collection.mutable.Map[String,
      scala.collection.mutable.ArrayBuffer[LocalDateTime]]()
    tables.foreach { t =>
      created(t.name) = scala.collection.mutable.ArrayBuffer(
        seedData(t.name).map(r => parse(r(t.columns.indexOf(t.dateCol)))): _*)
    }
    (1 to days).map { d =>
      val wm = watermark(d)
      val pr = probe(d)
      val span = java.time.Duration.between(wm, pr).getSeconds
      tables.map { t =>
        val rnd = rng(seed, t.name, d)
        val cs = created(t.name)
        def within(): LocalDateTime =
          wm.plusSeconds(1 + (rnd.nextDouble() * (span - 2)).toLong)
        if (t.name == emptyTable(d)) t.name -> Seq.empty[Raw]
        else {
          val fresh = (0 until newPerDay).map { _ =>
            val c = within()
            cs += c
            row(t, rnd, id(cs.size), c, c.plusSeconds(rnd.nextInt(60)) match {
              case u if u.isBefore(pr) => u
              case _ => c
            })
          }
          def pick(): Int = 1 + rnd.nextInt(cs.size - newPerDay)
          val upd = (0 until updPerDay).map { _ =>
            val i = pick()
            row(t, rnd, id(i), cs(i - 1), within())
          }
          // within-batch duplicates: a second version of an updated
          // id, one second later, so the tie-break is never a tie
          val dups = upd.take(3).map { r =>
            val u = parse(r(t.columns.indexOf(t.updatedCol))).plusSeconds(1)
            val i = r(t.columns.indexOf(t.idCol)).toInt
            row(t, rnd, r(t.columns.indexOf(t.idCol)), cs(i - 1), u)
          }
          // exactly on the watermark: ingested (the filter is >=)
          val onWm = Seq({ val i = pick(); row(t, rnd, id(i), cs(i - 1), wm) })
          // below the watermark: filtered out
          val stale = (0 until 2).map { _ =>
            val i = pick()
            row(t, rnd, id(i), cs(i - 1), wm.minusSeconds(1 + rnd.nextInt(7200)))
          }
          val all = fresh ++ upd ++ dups ++ onWm ++ stale
          t.name -> shuffle(all, rnd)
        }
      }.toMap
    }
  }

  /** Input rows a day delivers (stale rows included: they are read). */
  def dayRows(d: Int): Long = dayData(d - 1).values.map(_.size.toLong).sum

  def writeSeed(dir: Path): Unit = write(dir, seedData)

  def writeDay(dir: Path, d: Int): Unit = write(dir, dayData(d - 1))

  private def write(dir: Path, data: Map[String, Seq[Raw]]): Unit = {
    Files.createDirectories(dir)
    tables.foreach { t =>
      Files.write(dir.resolve(s"${t.name}.csv"),
        csv(t, data(t.name)).getBytes(StandardCharsets.UTF_8))
    }
  }

  private def csv(t: TableSpec, rows: Seq[Raw]): String =
    (t.columns.mkString(t.csvSep) +: rows.map(_.mkString(t.csvSep)))
      .mkString("", "\n", "\n")

  private def row(t: TableSpec, rnd: java.util.Random, idv: String,
      created: LocalDateTime, updated: LocalDateTime): Raw =
    t.columns.map { c =>
      if (c == t.idCol) idv
      else if (c == t.dateCol) created.format(Fmt)
      else if (c == t.updatedCol) updated.format(Fmt)
      else if (t.boolCols.contains(c)) BoolSpellings(rnd.nextInt(BoolSpellings.size))
      else s"${c.take(3)}${rnd.nextInt(100000)}"
    }.toVector
}

object IngestData {
  val Fmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val SeedStart: LocalDateTime = LocalDateTime.of(2024, 1, 1, 0, 0, 0)
  val DayZero: LocalDateTime = LocalDateTime.of(2025, 1, 1, 0, 0, 0)
  private val SeedSpanSecs =
    java.time.Duration.between(SeedStart, DayZero).getSeconds.toDouble - 86400 * 31
  /** The six spellings the bronze layer canonicalizes, plus junk that
    * must pass through unchanged. */
  val BoolSpellings: IndexedSeq[String] =
    IndexedSeq("True", "true", "t", "False", "false", "f", "maybe")

  def id(i: Int): String = f"$i%09d"

  def parse(s: String): LocalDateTime = LocalDateTime.parse(s, Fmt)

  def rng(seed: Long, table: String, day: Int): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L ^
      (table.hashCode.toLong << 20) ^ day.toLong)

  def shuffle[A](xs: Seq[A], rnd: java.util.Random): Seq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }
}

/** The expected state of every table, computed in plain Scala over the
  * generated rows — independent of the engine. A bronze row is the
  * spec's columns (date column as microsecond text, bool columns
  * canonicalized, junk passed through) plus `company`, `year`,
  * `month`. Merge rule: within a batch the newest `updated_at` wins
  * per id; across batches the new row beats the stored one. */
final class IngestOracle(tables: Seq[TableSpec]) {

  type Bronze = Vector[String]

  private var state: Map[String, Map[String, Bronze]] =
    tables.map(_.name -> Map.empty[String, Bronze]).toMap
  private var wms: Map[String, String] = Map.empty

  def table(name: String): Map[String, Bronze] = state(name)
  def watermarks: Map[String, String] = wms

  def initialLoad(data: Map[String, Seq[Vector[String]]]): Unit =
    tables.foreach { t =>
      val rows = data(t.name)
      if (rows.nonEmpty) state = state.updated(t.name, merge(t, state(t.name), rows))
    }

  /** One incremental day: filter `>= watermark`, merge, advance every
    * table's watermark to `probe` (empty deltas included). Returns the
    * tables whose filtered delta was non-empty (those the engine
    * writes; an empty delta short-circuits before the sink). */
  def day(data: Map[String, Seq[Vector[String]]], wm: String,
      probe: String): Seq[String] = {
    val written = tables.flatMap { t =>
      val u = t.columns.indexOf(t.updatedCol)
      val delta = data.getOrElse(t.name, Nil).filter(r => r(u) >= wm)
      if (delta.isEmpty) None
      else {
        state = state.updated(t.name, merge(t, state(t.name), delta))
        Some(t.name)
      }
    }
    tables.filter(t => data.contains(t.name))
      .foreach(t => wms = wms.updated(t.name, probe))
    written
  }

  private def merge(t: TableSpec, old: Map[String, Bronze],
      delta: Seq[Vector[String]]): Map[String, Bronze] = {
    val k = t.columns.indexOf(t.idCol)
    val u = t.columns.indexOf(t.updatedCol)
    val newest = delta.groupBy(_(k)).map { case (key, rs) => key -> rs.maxBy(_(u)) }
    old ++ newest.map { case (key, r) => key -> IngestOracle.bronze(t, r) }
  }
}

object IngestOracle {
  val PartCols: Seq[String] = Seq("company", "year", "month")

  def boolCanon(v: String): String = v match {
    case "True" | "true" | "t" => "true"
    case "False" | "false" | "f" => "false"
    case other => other
  }

  /** Raw extract row -> bronze row (see the class doc). */
  def bronze(t: TableSpec, raw: Vector[String]): Vector[String] = {
    val vals = t.columns.zip(raw).map { case (c, v) =>
      if (c == t.dateCol) v + ".000000"
      else if (t.boolCols.contains(c)) boolCanon(v)
      else v
    }
    val created = IngestData.parse(raw(t.columns.indexOf(t.dateCol)))
    (vals ++ Seq("Locaweb", created.getYear.toString,
      created.getMonthValue.toString)).toVector
  }

  /** The (year, month) partitions a delta touches after the watermark
    * filter. */
  def touched(t: TableSpec, rows: Seq[Vector[String]], wm: String): Set[String] = {
    val u = t.columns.indexOf(t.updatedCol)
    val c = t.columns.indexOf(t.dateCol)
    rows.filter(_(u) >= wm).map(_(c).take(7)).toSet
  }
}
