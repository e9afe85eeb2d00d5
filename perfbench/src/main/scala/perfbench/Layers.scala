package perfbench

/** The per-layer metric catalogue. Every traced run reports every
  * metric named here (0 for a layer its workload does not call), so one
  * list serves all workloads and `BENCHMARK.json` is generated from it.
  *
  * Span names are `<module>.<Object>.<function>` of the engine's public
  * entry points. Span measures, per traced operation:
  *   - `s`: busy time summed over calls; `self_s`: `s` minus the time
  *     covered by child spans; `calls`;
  *   - `jobs`, `stages`, `tasks`, `*_bytes`, `gc_s`: from the listener,
  *     over the span and its children;
  *   - `driver_s`: span time with no Spark job running (planning,
  *     driver-side file and manifest I/O, waiting);
  *   - `core_util`: summed task time / (span time x cores).
  */
object Catalogue {
  private val measureUnit = Map(
    "s" -> ("s", "lower"), "self_s" -> ("s", "lower"), "calls" -> ("count", "lower"),
    "jobs" -> ("count", "lower"), "stages" -> ("count", "lower"),
    "tasks" -> ("count", "lower"), "shuffle_bytes" -> ("bytes", "lower"),
    "input_bytes" -> ("bytes", "lower"), "output_bytes" -> ("bytes", "lower"),
    "spill_bytes" -> ("bytes", "lower"), "gc_s" -> ("s", "lower"),
    "driver_s" -> ("s", "lower"), "core_util" -> ("ratio", "higher"))

  /** Span -> the listener/timing measures reported for it. */
  val spans: Seq[(String, Seq[String])] = Seq(
    // scd_rebuild: EmployeeDimJob.run's own call sequence
    "scd.EmployeeDimJob.run" -> Seq("s", "self_s", "jobs", "stages", "tasks", "driver_s", "core_util"),
    "sources.CsvSnapshots.read" -> Seq("s", "calls", "driver_s"),
    "sources.CsvSnapshots.scan" -> Seq("s", "tasks", "input_bytes", "core_util"),
    "scd.EmployeeDimJob.stageEmployeeAll" -> Seq("s", "jobs", "shuffle_bytes", "spill_bytes", "gc_s", "core_util"),
    "scd.EmployeeDimJob.stageEmployeeCurrent" -> Seq("s", "jobs", "shuffle_bytes", "core_util"),
    "scd.Quality.check" -> Seq("s", "calls", "jobs", "shuffle_bytes", "core_util"),
    "sources.CsvSnapshots.write" -> Seq("s", "tasks", "output_bytes", "driver_s", "core_util"),
    "sources.CsvSnapshots.archive" -> Seq("s"),
    // scd_daily: the partitioned foreachBatch body's public calls
    "streaming.ScdStreaming.start" -> Seq("s", "self_s", "jobs", "stages", "tasks", "driver_s", "core_util"),
    "streaming.ScdStreaming.historyTable" -> Seq("s", "driver_s"),
    "operators.ScdIncremental.mergeBatchWithChangedDates" -> Seq("s", "jobs", "core_util"),
    "sources.ScdStorage.overwritePartitions" -> Seq("s", "tasks", "output_bytes", "driver_s", "core_util"),
    // corpus_dedup
    "operators.Dedup.exactDedup" -> Seq("s", "jobs", "shuffle_bytes", "core_util"),
    "operators.Dedup.bandSignatures" -> Seq("s", "core_util"),
    "operators.Dedup.minHashCandidates" -> Seq("s", "jobs", "shuffle_bytes", "core_util"),
    "operators.Dedup.incrementalCandidates" -> Seq("s", "calls", "jobs", "driver_s"))

  /** Measures a workload computes itself: name -> (unit, better). */
  val extras: Seq[(String, (String, String))] = Seq(
    "streaming.ScdStreaming.engine.s" -> ("s", "lower"),
    "operators.ScdIncremental.mergeBatchWithChangedDates.touched" -> ("ratio", "lower"),
    "operators.ScdIncremental.mergeBatchWithChangedDates.rewrite" -> ("ratio", "lower"),
    "sources.ScdStorage.overwritePartitions.partitions_rewritten" -> ("count", "lower"),
    "operators.Dedup.minHashCandidates.candidate_pairs" -> ("count", "lower"),
    "operators.Dedup.minHashCandidates.dropped_buckets" -> ("count", "lower"),
    "operators.Dedup.minHashCandidates.candidate_precision" -> ("ratio", "higher"),
    "plans.NativeText.shingleHash32.ns_per_row" -> ("ns", "lower"),
    "operators.Dedup.shingleHashes.ns_per_row" -> ("ns", "lower"),
    "plans.NativeText.minHashSig.ns_per_row" -> ("ns", "lower"),
    "operators.Dedup.minHashSignature.ns_per_row" -> ("ns", "lower"),
    "plans.NativeText.bandHashes.ns_per_row" -> ("ns", "lower"),
    "operators.Dedup.lshBandHashes.ns_per_row" -> ("ns", "lower"),
    "functions.TextFunctions.fingerprint.ns_per_row" -> ("ns", "lower"),
    "workload.dup_recall" -> ("ratio", "higher"),
    "trace.overhead_s" -> ("s", "lower"),
    "spark.jobs" -> ("count", "lower"),
    "spark.stages" -> ("count", "lower"),
    "spark.tasks" -> ("count", "lower"),
    "spark.shuffle_bytes" -> ("bytes", "lower"))

  val all: Seq[(String, String, String)] =
    spans.flatMap { case (span, ms) =>
      ms.map { m => val (u, b) = measureUnit(m); (s"$span.$m", u, b) }
    } ++ extras.map { case (n, (u, b)) => (n, u, b) }

  def json: String = all.map { case (n, u, b) =>
    s"""{"name": ${Json.str(n)}, "unit": ${Json.str(u)}, "better": ${Json.str(b)}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Layers {
  /** Name of the span an untraced operation of a traced run runs in, so
    * the run's totals can be taken from untraced operations only.
    */
  val Untraced = "untraced"

  def metrics(spans: Seq[Span], listener: SpanListener, rec: Recorder,
      cores: Int, tracedOps: Int, untracedOps: Int): Seq[(String, Double, String)] = {
    val by = Attribution.byName(spans, listener)
    def perOp(x: Double) = x / math.max(1, tracedOps)
    val measured: Map[String, Double] = by.toSeq.flatMap { case (span, m) =>
      val c = m.counts
      Seq(
        "s" -> perOp(m.s), "self_s" -> perOp(m.selfS), "calls" -> perOp(m.calls.toDouble),
        "jobs" -> perOp(c.jobs.toDouble), "stages" -> perOp(c.stages.toDouble),
        "tasks" -> perOp(c.tasks.toDouble), "shuffle_bytes" -> perOp(c.shuffleBytes.toDouble),
        "input_bytes" -> perOp(c.inputBytes.toDouble), "output_bytes" -> perOp(c.outputBytes.toDouble),
        "spill_bytes" -> perOp(c.spillBytes.toDouble), "gc_s" -> perOp(c.gcMs / 1e3),
        "driver_s" -> perOp(m.driverS),
        "core_util" -> (if (m.s > 0) c.taskMs / 1e3 / (m.s * cores) else 0.0)
      ).map { case (k, v) => s"$span.$k" -> v }
    }.toMap
    val totals = by.get(Untraced).map { m =>
      val n = math.max(1, untracedOps).toDouble
      Map("spark.jobs" -> m.counts.jobs / n, "spark.stages" -> m.counts.stages / n,
        "spark.tasks" -> m.counts.tasks / n, "spark.shuffle_bytes" -> m.counts.shuffleBytes / n)
    }.getOrElse(Map.empty)
    val overhead = Map("trace.overhead_s" ->
      (Stats.median(rec.tracedOpS.toSeq) - Stats.median(rec.opS.toSeq)))
    val values = measured ++ totals ++ overhead ++ rec.layer
    Catalogue.all.map { case (n, u, _) => (n, values.getOrElse(n, 0.0), u) }
  }
}
