package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** An output check that did not hold. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What a run measured: end-to-end samples from untraced operations,
  * the same operation's samples from traced ones, and the operation
  * count that `error_rate` is taken over.
  */
final class Recorder {
  val opS = mutable.ArrayBuffer.empty[Double]
  val readMs = mutable.ArrayBuffer.empty[Double]
  val tracedOpS = mutable.ArrayBuffer.empty[Double]
  /** Per-layer measures a workload computes itself, by metric name. */
  val layer = mutable.Map.empty[String, Double]
  var attempted = 0L
  var failed = 0L

  /** Run one operation: an exception or a failed check marks it failed. */
  def attempt(what: String)(body: => Unit): Unit = {
    attempted += 1
    try body catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"perfbench: $what failed: $e")
    }
  }

  def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)

  /** Seconds `body` takes. */
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

/** One benchmark workload: set-up (`prepare`, then `warmUp`), a timed
  * closed loop of `op`, then `finish`.
  */
trait Workload {
  /** Generate the inputs under `dir` and bootstrap any stored state. */
  def prepare(dir: Path): Unit
  /** Operations run before timing starts, so JIT and caches are warm. */
  def warmUp(): Unit
  /** One closed-loop operation with its reads and output checks. With
    * `tracer` set, each call into a layer runs inside a span and lazy
    * frames are forced inside the span that defines them.
    */
  def op(tracer: Option[Tracer]): Unit
  /** Untimed end-of-run checks; `traced` runs add per-layer probes. */
  def finish(traced: Boolean): Unit
  /** Input items one operation processes, for the named throughput. */
  def opItems: Long
  /** What this workload calls its operation, read and throughput. */
  def names: Names
}

/** Workload-specific names for the generic end-to-end metrics. */
final case class Names(op: String, read: String, items: String)

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opts.contains("selftest")) { SelfTest.run(); return }
    if (opts.contains("catalogue")) { println(Catalogue.json); return }
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext)
    val listener = new SpanListener(tracer.Property)
    if (traced) spark.sparkContext.addSparkListener(listener)
    // session start counts from JVM start: a later change that makes the
    // engine slower to come up shows in setup_s
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val rec = new Recorder
    val wl: Workload = workload match {
      case "scd_rebuild" => new ScdRebuild(spark, seed, rec)
      case "scd_daily" => new ScdDaily(spark, seed, rec)
      case "corpus_dedup" => new CorpusDedup(spark, seed, rec)
      case other => sys.error(s"unknown workload $other")
    }
    val prepareS = rec.time(wl.prepare(work.resolve("state")))
    val warmS = rec.time(wl.warmUp())
    // set-up is not an operation: only the timed loop counts toward
    // error_rate, but a set-up failure already aborted the run above
    rec.attempted = 0; rec.failed = 0; rec.layer.clear()
    rec.opS.clear(); rec.readMs.clear(); rec.tracedOpS.clear()

    // closed loop, one client; a traced run interleaves untraced and
    // traced operations so both see the same machine state
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (n < 2 || System.nanoTime() < deadline) {
      val t = traced && n % 2 == 1
      tracer.beginRun(s"op$n")
      if (t) wl.op(Some(tracer))
      else if (traced) tracer.span(Layers.Untraced)(wl.op(None))
      else wl.op(None)
      n += 1
    }
    rec.attempt("end-of-run checks")(wl.finish(traced))
    spark.stop() // drains the listener bus

    val setup = sessionS + prepareS + warmS
    val okRate = 1.0 - rec.failed.toDouble / rec.attempted
    val rssMb = Rss.peakMb()
    val opP50 = Stats.median(rec.opS.toSeq)
    val readP50 = Stats.median(rec.readMs.toSeq)
    val nm = wl.names
    // the same numbers under the workload's own names, for people reading the log
    Seq(
      f"${nm.op} = $opP50%.4f s (median of ${rec.opS.map(x => f"$x%.3f").mkString(" ")})",
      f"${nm.items} = ${wl.opItems / opP50}%.1f items/s (${wl.opItems} per op)",
      f"${nm.read}_p50 = $readP50%.3f ms (median of ${rec.readMs.size})",
      s"${nm.read}_tail = " + Stats.tail(rec.readMs.toSeq).fold(
        s"n/a (${rec.readMs.size} samples, a tail needs 20)") { case (p, v) => f"$v%.3f ms (p$p)" },
      f"setup_s = $setup%.3f s (session $sessionS%.3f s + prepare $prepareS%.3f s + warm-up $warmS%.3f s)",
      f"error_rate = ${rec.failed}/${rec.attempted}",
      f"peak_rss_mb = $rssMb%.1f MB"
    ).foreach(println)

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setup, "s"),
        ("ok_rate", okRate, "ratio"),
        ("peak_rss_mb", rssMb, "MB"),
        ("op_p50_s", opP50, "s"),
        ("read_p50_ms", readP50, "ms"))
      else {
        val spans = tracer.spans
        Files.createDirectories(work)
        SpanFile.write(work.resolve("spans.jsonl"), spans)
        val per = Layers.metrics(spans, listener, rec, cores,
          tracedOps = n / 2, untracedOps = n - n / 2)
        per.foreach { case (k, v, u) => println(f"$k = $v%.6g $u") }
        per
      }
    val correct = rec.failed == 0
    println(Json.result(correct, rec.attempted, rec.failed, metrics))
    if (!correct) sys.exit(1)
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p50/p75/p90 with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(90, 75, 50).find(p => xs.size * (100 - p) / 100.0 >= 10)
      .map(p => (p, quantile(xs, p / 100.0)))
}

object Rss {
  /** Process high-water resident set (VmHWM), in MB. */
  def peakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

object SpanFile {
  def write(p: Path, spans: Seq[Span]): Unit = {
    val lines = spans.sortBy(_.id).map(s =>
      s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, """ +
        s""""run": ${Json.str(s.run)}, "start_ms": ${Json.num(s.startMs)}, "end_ms": ${Json.num(s.endMs)}}""")
    Files.write(p, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Dirs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { x =>
      val dest = to.resolve(from.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(dest)
      else Files.copy(x, dest)
    } finally s.close()
  }

  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try { val b = Seq.newBuilder[Path]; s.filter(Files.isRegularFile(_)).forEach(b += _); b.result() }
      finally s.close()
    }
}
