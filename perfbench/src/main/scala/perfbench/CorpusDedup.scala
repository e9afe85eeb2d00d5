package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, split}
import graft.functions.TextFunctions
import graft.operators.Dedup
import graft.plans.NativeText

/** Document dedup on a generated corpus with planted exact duplicates
  * (same text after normalisation) and near duplicates (`Edits` words
  * replaced). One operation is `exactDedup` plus `minHashCandidates`
  * over the cached corpus, the per-row kernel layer (`plans.NativeText`)
  * and one shuffle; the reads are single-document near-duplicate probes
  * (`incrementalCandidates`) against the corpus's stored band signatures.
  */
final class CorpusDedup(spark: SparkSession, seed: Long, rec: Recorder) extends Workload {
  val Docs = 4000
  val Words = 60
  val Vocab = 4000
  val ExactDups = 200
  val NearDups = 200
  val Edits = 3
  val Probes = 2

  private var docs: Seq[Doc] = Nil
  private var corpus: DataFrame = _
  private var sigs: DataFrame = _
  private var plantedClusters: Map[Long, Long] = Map.empty
  private var truePairs: Set[(Long, Long)] = Set.empty
  private var nearPairs: Set[(Long, Long)] = Set.empty
  private var expectedPairs: Option[Set[(Long, Long)]] = None
  private var recall = 0.0
  private var nextProbe = 0L
  private val rnd = new java.util.SplittableRandom(seed ^ 0xd0c5L)
  private var candidates, dropped, precision, tracedOps = 0.0

  val names = Names("pass_p50_s", "probe", "docs_per_s")
  def opItems: Long = Docs.toLong

  private def ordered(a: Long, b: Long) = if (a < b) (a, b) else (b, a)

  def prepare(d: Path): Unit = {
    Option(corpus).foreach(_.unpersist(blocking = true))
    Option(sigs).foreach(_.unpersist(blocking = true))
    docs = CorpusGen.generate(seed, Docs, Words, Vocab, ExactDups, NearDups, Edits)
    // planted exact clusters: every member maps to the cluster's least id
    plantedClusters = docs.filter(_.dupOf.nonEmpty).groupBy(_.dupOf.get).flatMap {
      case (src, copies) => (src +: copies.map(_.id)).map(_ -> src)
    }
    // a family is a source and every copy planted from it
    val families = docs.flatMap(x => x.dupOf.orElse(x.nearOf).map(_ -> x.id)).groupBy(_._1)
      .map { case (src, ms) => src +: ms.map(_._2) }
    truePairs = families.flatMap(f => f.combinations(2).map(p => ordered(p(0), p(1)))).toSet
    nearPairs = docs.flatMap(x => x.nearOf.map(ordered(_, x.id))).toSet
    import spark.implicits._
    corpus = docs.map(x => (x.id, x.text)).toDF("id", "text")
      .repartition(spark.sparkContext.defaultParallelism).cache()
    corpus.count()
    sigs = Dedup.bandSignatures(corpus, "text", "id").cache()
    sigs.count()
    nextProbe = Docs.toLong
  }

  def warmUp(): Unit = op(None)

  def op(tracer: Option[Tracer]): Unit = rec.attempt("corpus_dedup pass") {
    def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))
    var clusters: Map[Long, Long] = Map.empty
    var pairs: Set[(Long, Long)] = Set.empty
    var droppedN = 0L
    val s = rec.time {
      clusters = span("operators.Dedup.exactDedup")(
        Dedup.exactDedup(corpus, "text", "id").filter(col("cluster_size") > 1)
          .select("id", "representative").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap)
      tracer.foreach(_.span("operators.Dedup.bandSignatures")(
        Dedup.bandSignatures(corpus, "text", "id").write.format("noop").mode("overwrite").save()))
      span("operators.Dedup.minHashCandidates") {
        val (p, dr) = Dedup.minHashCandidates(corpus, "text", "id")
        pairs = p.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        droppedN = dr.count()
      }
    }
    if (tracer.isEmpty) rec.opS += s else {
      rec.tracedOpS += s
      tracedOps += 1
      candidates += pairs.size
      dropped += droppedN
      precision += pairs.count(truePairs).toDouble / math.max(1, pairs.size)
    }
    rec.check(clusters == plantedClusters,
      s"exact-dup clusters differ from the planted ones (${clusters.size} vs ${plantedClusters.size} docs)")
    val exactPairs = plantedClusters.toSeq.groupBy(_._2).values
      .flatMap(_.map(_._1).combinations(2).map(p => ordered(p(0), p(1))))
    rec.check(exactPairs.forall(pairs), "an exact-duplicate pair is not a MinHash candidate")
    rec.check(expectedPairs.forall(_ == pairs), "candidate pairs differ from the first pass's")
    expectedPairs = Some(pairs)
    recall = nearPairs.count(pairs).toDouble / nearPairs.size

    (0 until Probes).foreach(_ => probe(tracer))
  }

  /** One incoming document, an exact copy (case changed) of a corpus
    * document, probed against the stored signatures: its source must
    * come back as a candidate.
    */
  private def probe(tracer: Option[Tracer]): Unit = {
    import spark.implicits._
    val src = docs(rnd.nextInt(docs.size))
    nextProbe += 1
    val id = nextProbe
    val incoming = Seq((id, src.text.toUpperCase)).toDF("id", "text")
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    var found: Set[Long] = Set.empty
    val ms = 1e3 * rec.time {
      def run() = {
        val (pairs, _) = Dedup.incrementalCandidates(sigs, incoming, "text", "id")
        found = pairs.collect().map(r => if (r.getLong(0) == id) r.getLong(1) else r.getLong(0)).toSet
      }
      tracer.fold(run())(_.span("operators.Dedup.incrementalCandidates")(run()))
    }
    if (tracer.isEmpty) rec.readMs += ms
    // the probe's lazily checkpointed frames are not needed once collected
    spark.sparkContext.getPersistentRDDs.foreach { case (i, r) => if (!keep(i)) r.unpersist(blocking = false) }
    rec.check(found.contains(src.id), s"probe copy of document ${src.id} did not find it: $found")
  }

  /** Per-row cost of each native kernel and of the built-in formulation
    * it replaces, over the cached corpus, less a pass that only reads
    * the input column.
    */
  private def kernels(): Unit = {
    NativeText.register(spark, Seq(32))
    val rows = Docs.toDouble
    val staged = corpus
      .select(col("id"), col("text"), split(TextFunctions.normalizeText(col("text")), " ").as("words"))
      .select(col("*"), NativeText.shingleHash32(col("words"), 3).as("hashes"))
      .select(col("*"), NativeText.minHashSig(col("hashes"), 32).as("sig"))
      .cache()
    staged.count()
    def pass(c: Column): Double = Stats.median((0 until 3).map(_ =>
      rec.time(staged.select(c.as("x")).write.format("noop").mode("overwrite").save())))
    def ns(c: Column, base: Column) = (pass(c) - pass(base)) * 1e9 / rows
    val text = col("text")
    Seq(
      "plans.NativeText.shingleHash32" -> ns(NativeText.shingleHash32(split(TextFunctions.normalizeText(text), " "), 3), text),
      "operators.Dedup.shingleHashes" -> ns(Dedup.shingleHashes(text, 3), text),
      "plans.NativeText.minHashSig" -> ns(NativeText.minHashSig(col("hashes"), 32), col("hashes")),
      "operators.Dedup.minHashSignature" -> ns(Dedup.minHashSignature(col("hashes"), 32), col("hashes")),
      "plans.NativeText.bandHashes" -> ns(NativeText.bandHashes(col("sig"), 8, 4), col("sig")),
      "operators.Dedup.lshBandHashes" -> ns(Dedup.lshBandHashes(col("sig"), 8, 4), col("sig")),
      "functions.TextFunctions.fingerprint" -> ns(TextFunctions.fingerprint(text), text)
    ).foreach { case (k, v) => rec.layer(s"$k.ns_per_row") = v }
    staged.unpersist(blocking = true)
  }

  def finish(traced: Boolean): Unit = {
    println(f"dup_recall = $recall%.4f ratio (${nearPairs.size} planted near pairs)")
    rec.layer("workload.dup_recall") = recall
    if (traced) {
      kernels()
      if (tracedOps > 0) {
        rec.layer("operators.Dedup.minHashCandidates.candidate_pairs") = candidates / tracedOps
        rec.layer("operators.Dedup.minHashCandidates.dropped_buckets") = dropped / tracedOps
        rec.layer("operators.Dedup.minHashCandidates.candidate_precision") = precision / tracedOps
      }
    }
  }
}
