package perfbench

/** The generators' own tests: the same seed gives byte-identical inputs
  * and a different seed gives different inputs, for every workload.
  * Exits non-zero if any check fails.
  */
object SelfTest {
  private def inputs(seed: Long): Map[String, String] = {
    Map(
      "employee snapshots" -> EmployeeGen.digest(EmployeeGen.generate(seed, 300, 10, lateDay = 6)),
      "corpus" -> CorpusGen.digest(CorpusGen.generate(seed, 400, 40, 500, 20, 20, 3)))
  }

  def run(): Unit = {
    val (a, b, c) = (inputs(7), inputs(7), inputs(8))
    val failures = a.keys.toSeq.sorted.flatMap { k =>
      Seq(
        Option.when(a(k) != b(k))(s"$k: seed 7 gave different inputs on two calls"),
        Option.when(a(k) == c(k))(s"$k: seeds 7 and 8 gave identical inputs")).flatten
    }
    val snaps = EmployeeGen.generate(7, 300, 10, lateDay = 6)
    val model = new ScdModel(snaps)
    val planted = Seq(
      Option.when(!snaps.exists(s => s.rows.size != s.rows.distinct.size))("no duplicate rows planted"),
      Option.when(snaps.count(_.file.startsWith("late_")) != 1)("not exactly one late file"),
      Option.when(!model.statusCounts._1.contains("Deleted"))("no Deleted rows planted"),
      Option.when(!model.statusCounts._1.contains("Changed"))("no Changed rows planted")).flatten
    (failures ++ planted).foreach(f => System.err.println(s"selftest: $f"))
    if ((failures ++ planted).nonEmpty) sys.exit(1)
    println(s"selftest: ok (${a.size} generators)")
  }
}
