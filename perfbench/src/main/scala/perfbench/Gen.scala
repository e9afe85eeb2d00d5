package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.LocalDate
import java.util.SplittableRandom
import scala.collection.mutable

/** One employee's row in one daily snapshot (snapshot columns after
  * `snapshot_date`, in schema order).
  */
final case class Emp(id: Int, status: String, first: String, last: String,
    gender: String, email: String, phone: String, salary: Int,
    term: Option[LocalDate]) {
  def csv(date: LocalDate): String =
    Seq(date.toString, id.toString, status, first, last, gender, email, phone,
      salary.toString, term.map(_.toString).getOrElse("NULL")).mkString(",")
  /** The engine's row fingerprint input: every column but the snapshot
    * date, nulls skipped, joined by "||". Equal strings mean equal hashes.
    */
  def hashKey: String =
    (Seq(id.toString, status, first, last, gender, email, phone,
      salary.toString) ++ term.map(_.toString)).mkString("||")
}

/** One daily full-snapshot file: its date, the rows as delivered
  * (exact duplicates included) and the file name it is delivered under.
  */
final case class Snapshot(date: LocalDate, rows: Seq[Emp], file: String) {
  def text: String = {
    val sb = new StringBuilder(EmployeeGen.Header).append('\n')
    rows.foreach(r => sb.append(r.csv(date)).append('\n'))
    sb.toString
  }
}

/** Seeded daily snapshots of an employee population: hires, salary
  * churn, leave and rejoin (absent for a few days), terminations, exact
  * duplicate rows, and one day delivered late under a file name that
  * sorts after every other day's.
  */
object EmployeeGen {
  val Header = "snapshot_date,employee_number,status,first_name,last_name," +
    "gender,email,phone_number,salary,termination_date"
  val Start: LocalDate = LocalDate.of(2024, 1, 1)
  private val Firsts = Seq("Ana", "Ben", "Chen", "Dara", "Eli", "Fay", "Gus",
    "Hana", "Ivo", "Jo", "Kai", "Lea", "Max", "Nia", "Oto", "Pia")
  private val Lasts = Seq("Abe", "Berg", "Cruz", "Diaz", "Egan", "Fox",
    "Gray", "Holt", "Ito", "Jain", "Kim", "Lund", "Moss", "Nash")

  /** `days` snapshots of `n` employees; `lateDay` is delivered as
    * `late_<date>.csv`.
    */
  def generate(seed: Long, n: Int, days: Int, lateDay: Int): Seq[Snapshot] = {
    val rnd = new SplittableRandom(seed)
    final class State(var e: Emp, val hired: Int, var absentUntil: Int,
        var gone: Boolean)
    val pop = (1 to n).map { id =>
      val f = Firsts(rnd.nextInt(Firsts.size))
      val l = Lasts(rnd.nextInt(Lasts.size))
      val e = Emp(id, "Active", f, l, if (rnd.nextBoolean()) "F" else "M",
        s"${f.toLowerCase}.${l.toLowerCase}$id@example.com",
        f"555-${rnd.nextInt(10000)}%04d-$id%06d", 30000 + rnd.nextInt(90000), None)
      val hired = if (rnd.nextInt(10) == 0) 1 + rnd.nextInt(days - 1) else 0
      new State(e, hired, 0, false)
    }
    (0 until days).map { d =>
      val date = Start.plusDays(d.toLong)
      val rows = mutable.ArrayBuffer.empty[Emp]
      pop.foreach { s =>
        if (!s.gone && s.hired <= d) {
          if (d > s.hired && s.absentUntil <= d) {
            val r = rnd.nextInt(1000)
            if (r < 4) s.absentUntil = d + 1 + rnd.nextInt(4) // leave, rejoin later
            else if (r < 7) s.e = s.e.copy(status = "Terminated", term = Some(date))
            else if (r < 30) s.e = s.e.copy(salary = s.e.salary + 500 + rnd.nextInt(2500))
          }
          if (s.absentUntil <= d) {
            rows += s.e
            if (rnd.nextInt(250) == 0) rows += s.e // exact duplicate row
            if (s.e.status == "Terminated") s.gone = true
          }
        }
      }
      val file = if (d == lateDay) s"late_$date.csv" else s"day_$date.csv"
      Snapshot(date, rows.toSeq, file)
    }
  }

  def write(dir: Path, snaps: Seq[Snapshot]): Unit = {
    Files.createDirectories(dir)
    snaps.foreach(s => Files.write(dir.resolve(s.file), s.text.getBytes(UTF_8)))
  }

  def digest(snaps: Seq[Snapshot]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    snaps.foreach { s => md.update(s.file.getBytes(UTF_8)); md.update(s.text.getBytes(UTF_8)) }
    Hex(md.digest())
  }
}

/** The SCD classification the engine must produce, computed row by row
  * from the generated snapshots: statuses by the reference's when-chain
  * and `changed_status_date` in corrected-islands mode.
  */
final class ScdModel(snaps: Seq[Snapshot]) {
  // (employee) -> rows by date, exact duplicates collapsed
  private val byEmp: Map[Int, Seq[(LocalDate, Emp)]] = snaps
    .flatMap(s => s.rows.map(r => (s.date, r))).distinct
    .groupBy(_._2.id).map { case (k, v) => k -> v.sortBy(_._1.toEpochDay) }
  private val globalMax: LocalDate = snaps.map(_.date).maxBy(_.toEpochDay)

  val rows: Long = byEmp.valuesIterator.map(_.size.toLong).sum
  val employees: Int = byEmp.size
  def ids: Seq[Int] = byEmp.keys.toSeq.sorted

  /** (date, row, change_status, changed_status_date) for one employee. */
  def history(id: Int): Seq[(LocalDate, Emp, String, LocalDate)] = {
    val rs = byEmp.getOrElse(id, Nil)
    val statuses = rs.indices.map { i =>
      val (date, e) = rs(i)
      if (i == 0) "New"
      else if (i == rs.size - 1 && date != globalMax) "Deleted"
      else if (rs(i - 1)._2.hashKey != e.hashKey) "Changed"
      else "No Change"
    }
    var runStart = LocalDate.MIN
    rs.indices.map { i =>
      val (date, e) = rs(i)
      if (i == 0 || rs(i - 1)._2.hashKey != e.hashKey) runStart = date
      (date, e, statuses(i), if (statuses(i) == "Deleted") date else runStart)
    }
  }

  /** Hash of every expected row (all twelve SCD columns, `|`-joined as
    * Spark renders a collected row, sorted).
    */
  def hash: String = Hex.sha256(byEmp.keys.toSeq.flatMap(history).map { case (d, e, s, c) =>
    Seq(d, e.id, e.status, e.first, e.last, e.gender, e.email, e.phone, e.salary,
      e.term.map(_.toString).getOrElse("null"), s, c).mkString("|")
  }.sorted.mkString("\n"))

  /** change_status counts over every row (employee_all) and over each
    * employee's latest row (employee_current).
    */
  def statusCounts: (Map[String, Long], Map[String, Long]) = {
    val hs = byEmp.keys.iterator.map(history).toSeq
    (hs.flatten.groupBy(_._3).map { case (k, v) => k -> v.size.toLong },
      hs.map(_.last._3).groupBy(identity).map { case (k, v) => k -> v.size.toLong })
  }
}

object Hex {
  def apply(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
  def sha256(s: String): String =
    apply(MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)))
}

/** A generated document: `dupOf` is the id of the document it was
  * planted as a copy of (exact copy after normalisation) and `nearOf` the
  * id it was planted as a near copy of (a few words replaced).
  */
final case class Doc(id: Long, text: String, dupOf: Option[Long], nearOf: Option[Long])

object CorpusGen {
  def generate(seed: Long, docs: Int, words: Int, vocab: Int,
      exactDups: Int, nearDups: Int, edits: Int): Seq[Doc] = {
    val rnd = new SplittableRandom(seed)
    val vocabulary = Array.tabulate(vocab) { i =>
      val len = 3 + rnd.nextInt(6)
      new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar)) + i.toString
    }
    val originals = docs - exactDups - nearDups
    val base = (0 until originals).map { i =>
      Doc(i.toLong, Seq.fill(words)(vocabulary(rnd.nextInt(vocab))).mkString(" "), None, None)
    }
    val exact = (0 until exactDups).map { j =>
      val src = base(rnd.nextInt(originals))
      // same text after normalisation: case and spacing differ
      val t = src.text.split(" ").zipWithIndex
        .map { case (w, i) => if (i % 7 == 0) w.toUpperCase else w }.mkString("  ")
      Doc((originals + j).toLong, t, Some(src.id), None)
    }
    val near = (0 until nearDups).map { j =>
      val src = base(rnd.nextInt(originals))
      var t = src.text
      while (t == src.text) {
        val ws = src.text.split(" ")
        (0 until edits).foreach(_ => ws(rnd.nextInt(ws.length)) = vocabulary(rnd.nextInt(vocab)))
        t = ws.mkString(" ")
      }
      Doc((originals + exactDups + j).toLong, t, None, Some(src.id))
    }
    base ++ exact ++ near
  }

  def digest(docs: Seq[Doc]): String =
    Hex.sha256(docs.iterator.map(d => s"${d.id}\t${d.text}").mkString("\n"))
}
