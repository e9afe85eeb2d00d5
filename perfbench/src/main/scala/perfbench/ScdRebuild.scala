package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.scd.{EmployeeDimJob, EmployeeTables, Quality}
import graft.sources.CsvSnapshots

/** The paper's job: `EmployeeDimJob.run` with the default `Config` over
  * `Days` daily full snapshots of `Employees` employees. Each operation
  * gets a fresh copy of the inputs and a fresh output directory, made
  * outside the timed call; a consumer then reads single employees' current
  * rows back from the job's CSV output.
  */
final class ScdRebuild(spark: SparkSession, seed: Long, rec: Recorder) extends Workload {
  val Employees = 1000
  val Days = 12
  val Reads = 5

  private var dir: Path = _
  private var model: ScdModel = _
  private var expectedCounts: (Map[String, Long], Map[String, Long]) = _
  private var expectedHash: Option[String] = None
  private var rep = 0
  private val rnd = new java.util.SplittableRandom(seed ^ 0x5eedL)

  val names = Names("run_p50_s", "current_read", "rows_per_s")
  def opItems: Long = model.rows

  def prepare(d: Path): Unit = {
    dir = d
    val snaps = EmployeeGen.generate(seed, Employees, Days, lateDay = Days - 4)
    EmployeeGen.write(dir.resolve("pristine"), snaps)
    model = new ScdModel(snaps)
    expectedCounts = model.statusCounts
  }

  // the first run after a cold start still ran ~20 % slow; two settle it
  def warmUp(): Unit = (1 to 2).foreach(_ => op(None))

  def op(tracer: Option[Tracer]): Unit = rec.attempt("scd_rebuild run") {
    rep += 1
    val repDir = dir.resolve(s"rep$rep")
    val in = repDir.resolve("input")
    val out = repDir.resolve("output").toString
    Dirs.copy(dir.resolve("pristine"), in)
    val cfg = EmployeeDimJob.Config(in.toString, out)
    val s = rec.time(tracer match {
      case None => EmployeeDimJob.run(spark, cfg)
      case Some(t) => tracedRun(t, cfg)
    })
    if (tracer.isEmpty) rec.opS += s else rec.tracedOpS += s

    val ids = model.ids
    (0 until Reads).foreach { _ =>
      val id = ids(rnd.nextInt(ids.size))
      var rows: Array[org.apache.spark.sql.Row] = null
      val ms = 1e3 * rec.time {
        val profile = EmployeeTables.employeeCurrent(out)
        val (df, _) = traced(tracer, "sources.CsvSnapshots.read")(CsvSnapshots.read(spark, profile))
        rows = df.filter(col("employee_number") === id).collect()
      }
      if (tracer.isEmpty) rec.readMs += ms
      val last = model.history(id).last
      rec.check(rows.length == 1 && rows(0).getAs[String]("change_status") == last._3 &&
        rows(0).getAs[Int]("salary") == last._2.salary,
        s"current row of employee $id: ${rows.toSeq} expected ${last._3}/${last._2.salary}")
    }
    checkOutput(repDir, in)
    Dirs.delete(repDir)
  }

  /** `EmployeeDimJob.run`'s call sequence with each call in a span; the
    * staged and current frames are forced inside the span that builds them.
    */
  private def tracedRun(t: Tracer, cfg: EmployeeDimJob.Config): Unit =
    t.span("scd.EmployeeDimJob.run") {
      val snapshots = EmployeeTables.empSnapshots(cfg.inputDir)
      val allProfile = EmployeeTables.employeeAll(cfg.outputDir)
      val currentProfile = EmployeeTables.employeeCurrent(cfg.outputDir)
      val (existingAll, _) = t.span("sources.CsvSnapshots.read")(CsvSnapshots.read(spark, allProfile))
      val (incoming, inputFiles) = t.span("sources.CsvSnapshots.read")(CsvSnapshots.read(spark, snapshots))
      t.span("sources.CsvSnapshots.scan")(incoming.write.format("noop").mode("overwrite").save())
      val staged = t.span("scd.EmployeeDimJob.stageEmployeeAll") {
        val s = EmployeeDimJob.stageEmployeeAll(existingAll, incoming, cfg)
          .persist(StorageLevel.MEMORY_AND_DISK)
        s.count()
        s
      }
      try {
        t.span("scd.Quality.check")(Quality.check(staged, allProfile))
        t.span("sources.CsvSnapshots.write")(CsvSnapshots.write(staged, allProfile, cfg.singleFile))
        val current = t.span("scd.EmployeeDimJob.stageEmployeeCurrent") {
          val c = EmployeeDimJob.stageEmployeeCurrent(staged, cfg)
          c.write.format("noop").mode("overwrite").save()
          c
        }
        t.span("scd.Quality.check")(Quality.check(current, currentProfile))
        t.span("sources.CsvSnapshots.write")(CsvSnapshots.write(current, currentProfile, cfg.singleFile))
      } finally staged.unpersist()
      if (cfg.archiveInputs)
        t.span("sources.CsvSnapshots.archive")(CsvSnapshots.archive(spark, inputFiles, snapshots))
    }

  /** Status counts match the generator; every operation, traced or not,
    * writes the same output (canonical-sorted hash); inputs are archived.
    */
  private def checkOutput(repDir: Path, in: Path): Unit = {
    def lines(table: String): Seq[String] = Dirs.files(repDir.resolve("output").resolve(table))
      .filter(_.getFileName.toString.endsWith(".csv"))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
    val all = lines("employee_all")
    val current = lines("employee_current")
    def counts(ls: Seq[String]) =
      ls.groupBy(_.split(",", -1)(10)).map { case (k, v) => k -> v.size.toLong }
    rec.check(counts(all) == expectedCounts._1,
      s"employee_all status counts ${counts(all)} expected ${expectedCounts._1}")
    rec.check(counts(current) == expectedCounts._2,
      s"employee_current status counts ${counts(current)} expected ${expectedCounts._2}")
    val h = Hex.sha256(all.sorted.mkString("\n") + "\n--\n" + current.sorted.mkString("\n"))
    rec.check(expectedHash.forall(_ == h), s"output hash $h differs from the first run's")
    expectedHash = Some(h)
    val left = Dirs.files(in).count(p => p.getParent == in)
    rec.check(left == 0, s"$left input files not archived")
  }

  def finish(traced: Boolean): Unit = ()

  private def traced[T](t: Option[Tracer], name: String)(body: => T): T =
    t.fold(body)(_.span(name)(body))
}
