package perfbench

import java.nio.file.{Files, Paths}

/** Measures every extension gate over sf0.1, once cold and once warm,
  * each fully materialised, then once more timed the old way, with
  * `count()`; writes the table gate_mix stratifies its sample by (and the
  * README's noop-against-count comparison comes from):
  *
  * {{{
  * cd benchmark && sbt "runMain perfbench.Calibrate <testdata> src/main/resources/perfbench/gate_costs.tsv"
  * }}}
  *
  * The table only decides which gates share a stratum, so it needs
  * refreshing when gates are added or their costs move by multiples, not
  * for every change.
  */
object Calibrate {
  def main(args: Array[String]): Unit = {
    val Array(testdata, outFile) = args
    val sfDir = s"$testdata/sf0.1"
    val work = Files.createDirectories(Paths.get("work", "calibrate")).toString
    val (spark, _) = Setup.run(Runtime.getRuntime.availableProcessors, work, sfDir, 1)
    val budget = new graft.QueryBudget(spark, 120)
    val gates = graft.SparkEntry.queries.toSeq
      .filter { case (g, _) => GateMix.Families.contains(GateMix.family(g)) }.sortBy(_._1)
    val secs = (0 to 2).map { pass =>
      gates.map { case (g, fn) =>
        val (s, err) = budget.run(g) {
          val df = fn(spark, sfDir)
          if (pass < 2) df.write.format("noop").mode("overwrite").save() else df.count()
        }
        System.err.println(f"[calibrate] pass $pass $g%-40s $s%8.2f s${err.fold("")(e => s" ${e._1}")}")
        g -> (if (err.isEmpty) s else Double.NaN)
      }.toMap
    }
    val rows = gates.map { case (g, _) => (g +: secs.map(s => f"${s(g)}%.3f")).mkString("\t") }
    Files.writeString(Paths.get(outFile),
      ("gate\tcold_s\twarm_s\tcount_s" +: rows).mkString("", "\n", "\n"))
    budget.shutdown()
    spark.stop()
  }
}
