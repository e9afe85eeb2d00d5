package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.streaming.Trigger
import graft.operators.ScdIncremental
import graft.scd.{EmployeeDimJob, EmployeeTables, Quality}
import graft.sources.{CsvSnapshots, ScdStorage}
import graft.streaming.ScdStreaming

/** The SCD job at its daily cadence: one new snapshot file per
  * operation, applied by `ScdStreaming.start(incremental = true,
  * partitionedStorage = true)` under `Trigger.AvailableNow`.
  *
  * Set-up bootstraps `BootDays` days of history. Operations then apply a
  * three-file chain — the next day, a late file for a day the bootstrap
  * lacked, the day after — and restore the bootstrapped table and
  * checkpoint (outside the timed call) before the chain starts again, so
  * every operation sees a history of the same size however many run.
  */
final class ScdDaily(spark: SparkSession, seed: Long, rec: Recorder) extends Workload {
  val Employees = 1000
  val BootDays = 10
  val Reads = 3
  private val Late = BootDays - 3
  private val cfg = EmployeeDimJob.Config("", "", legacyChangedStatusDate = false)

  private var dir: Path = _
  private var boot: Seq[Snapshot] = Nil
  private var chain: Seq[Snapshot] = Nil
  private var models: IndexedSeq[ScdModel] = _
  private var changedRows: IndexedSeq[Long] = _
  private var step = 0
  private val rnd = new java.util.SplittableRandom(seed ^ 0xda11L)
  // per-layer sums over traced / untraced operations
  private var engineS, engineOps = 0.0
  private var touched, rewrite, partitions, tracedOps = 0.0

  val names = Names("day_p50_s", "history_read", "day_rows_per_s")
  def opItems: Long = chain.map(_.rows.size.toLong).sum / chain.size

  private def input = dir.resolve("input")
  private def table = dir.resolve("table").toString
  private def ckpt = dir.resolve("ckpt").toString

  def prepare(d: Path): Unit = {
    dir = d
    val snaps = EmployeeGen.generate(seed, Employees, BootDays + 2, lateDay = Late)
    boot = snaps.take(BootDays).patch(Late, Nil, 1)
    chain = Seq(snaps(BootDays), snaps(Late), snaps(BootDays + 1))
    models = (0 to chain.size).map(i => new ScdModel(boot ++ chain.take(i)))
    changedRows = (1 to chain.size).map { i =>
      models(i).ids.map { id =>
        val before = models(i - 1).history(id).toSet
        models(i).history(id).count(r => !before(r)).toLong
      }.sum
    }
    EmployeeGen.write(input, boot)
    ScdStreaming.start(spark, input.toString, table, ckpt, cfg,
      maxFilesPerTrigger = boot.size, incremental = true, partitionedStorage = true)
      .awaitTermination()
    Dirs.copy(dir.resolve("table"), dir.resolve("base/table"))
    Dirs.copy(dir.resolve("ckpt"), dir.resolve("base/ckpt"))
    step = 0
  }

  def warmUp(): Unit = op(None)

  /** Chain files applied since the last restore. */
  private def applied = (step - 1) % chain.size + 1

  private def restore(): Unit = {
    Seq("table", "ckpt", "input", "input_processed").foreach(p => Dirs.delete(dir.resolve(p)))
    Dirs.copy(dir.resolve("base/table"), dir.resolve("table"))
    Dirs.copy(dir.resolve("base/ckpt"), dir.resolve("ckpt"))
    Files.createDirectories(input)
  }

  def op(tracer: Option[Tracer]): Unit = rec.attempt("scd_daily step") {
    val c = step % chain.size
    step += 1
    if (c == 0 && step > 1) restore()
    EmployeeGen.write(input, Seq(chain(c)))
    val startMs = System.currentTimeMillis()
    val s = rec.time(tracer match {
      case None =>
        val q = ScdStreaming.start(spark, input.toString, table, ckpt, cfg,
          incremental = true, partitionedStorage = true)
        q.awaitTermination()
        q.recentProgress.foreach { p =>
          val d = p.durationMs.asScala
          engineS += (d.getOrElse("triggerExecution", 0L: java.lang.Long) -
            d.getOrElse("addBatch", 0L: java.lang.Long)) / 1e3
        }
        engineOps += 1
      case Some(t) => tracedStep(t, c)
    })
    if (tracer.isEmpty) rec.opS += s else {
      rec.tracedOpS += s
      tracedOps += 1
      partitions += Dirs.files(dir.resolve("table"))
        .filter(p => p.getFileName.toString.endsWith(".parquet") &&
          Files.getLastModifiedTime(p).toMillis >= startMs)
        .map(_.getParent).distinct.size
      touched += chain(c).rows.map(_.id).distinct.size.toDouble / models(c + 1).employees
    }

    val ids = models(c + 1).ids
    (0 until Reads).foreach { _ =>
      val id = ids(rnd.nextInt(ids.size))
      var rows: Array[Row] = null
      val ms = 1e3 * rec.time {
        val h = tracer.fold(ScdStreaming.historyTable(spark, table))(
          _.span("streaming.ScdStreaming.historyTable")(ScdStreaming.historyTable(spark, table)))
        rows = h.filter(col("employee_number") === id).collect()
      }
      if (tracer.isEmpty) rec.readMs += ms
      val got = rows.toSeq.map(r => (r.getDate(0).toLocalDate, r.getInt(8), r.getString(2),
        r.getString(10), r.getDate(11).toLocalDate)).sortBy(_._1.toEpochDay)
      val want = models(c + 1).history(id).map(h => (h._1, h._2.salary, h._2.status, h._3, h._4))
      rec.check(got == want, s"history of employee $id after chain step $c: $got expected $want")
    }
    // the whole history against the model, once per chain
    if (c == chain.size - 1) checkHistory()
  }

  private def checkHistory(): String = {
    val h = canonicalHash(ScdStreaming.historyTable(spark, table))
    rec.check(h == models(applied).hash, s"history after $applied chain files differs from the model")
    h
  }

  /** The partitioned `foreachBatch` body's public calls, each in a span,
    * under a stream built with `ScdStreaming.start`'s source options.
    */
  private def tracedStep(t: Tracer, c: Int): Unit = t.span("streaming.ScdStreaming.start") {
    val q = spark.readStream
      .schema(EmployeeTables.snapshotSchema)
      .option("header", "true")
      .option("nullValue", "NULL")
      .option("dateFormat", "yyyy-MM-dd")
      .option("maxFilesPerTrigger", 10)
      .option("cleanSource", "archive")
      .option("sourceArchiveDir", s"${input}_processed")
      .csv(input.toString)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) => tracedBatch(t, batch, c) }
      .start()
    q.awaitTermination()
  }

  private def tracedBatch(t: Tracer, batch: DataFrame, c: Int): Unit = {
    if (batch.isEmpty) return
    val profile = EmployeeTables.employeeAll("").copy(outputPath = table)
    val existing = t.span("streaming.ScdStreaming.historyTable")(ScdStreaming.historyTable(spark, table))
    val subset = t.span("operators.ScdIncremental.mergeBatchWithChangedDates") {
      val (merged, changedDates) = ScdIncremental
        .mergeBatchWithChangedDates(existing, batch, entityCols = Seq("employee_number"))
      val s = merged.join(broadcast(changedDates), Seq("snapshot_date"), "left_semi")
        .select(EmployeeTables.scdSchema.fieldNames.map(col).toSeq: _*)
        .persist()
      rewrite += s.count().toDouble / changedRows(c)
      s
    }
    try {
      t.span("scd.Quality.check")(Quality.check(subset, profile))
      t.span("sources.ScdStorage.overwritePartitions")(ScdStorage.overwritePartitions(subset, table))
    } finally subset.unpersist()
  }

  private def canonicalHash(df: DataFrame): String =
    Hex.sha256(df.collect().map(_.toSeq.mkString("|")).sorted.mkString("\n"))

  /** Incremental equals full recompute: the final history equals
    * `stageEmployeeAll` (corrected islands) over every file applied.
    */
  def finish(traced: Boolean): Unit = {
    val all = dir.resolve("recompute")
    EmployeeGen.write(all, boot ++ chain.take(applied))
    val (incoming, _) = CsvSnapshots.read(spark, EmployeeTables.empSnapshots(all.toString))
    val (empty, _) = CsvSnapshots.read(spark, EmployeeTables.employeeAll(dir.resolve("none").toString))
    val full = canonicalHash(EmployeeDimJob.stageEmployeeAll(empty, incoming, cfg))
    val incremental = checkHistory()
    rec.check(incremental == full, s"incremental history differs from the full recompute")
    if (engineOps > 0) rec.layer("streaming.ScdStreaming.engine.s") = engineS / engineOps
    if (tracedOps > 0) {
      rec.layer("operators.ScdIncremental.mergeBatchWithChangedDates.touched") = touched / tracedOps
      rec.layer("operators.ScdIncremental.mergeBatchWithChangedDates.rewrite") = rewrite / tracedOps
      rec.layer("sources.ScdStorage.overwritePartitions.partitions_rewritten") = partitions / tracedOps
    }
  }
}
