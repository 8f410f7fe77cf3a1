package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-gated query path: a Spark query and the DuckDB SQL that
  * must return the same rows on the same parquet tables. A gate's family
  * is its name prefix (`pf_`, `ax_`, `dd_`, ...).
  *
  * `query(spark, sfDir)` builds the gate's result over the tables in
  * `sfDir`. `oracle` is read each time it is asked for, never when the
  * gate is declared: sim_pca_recall's oracle is generated by its own
  * query run, and Verify writes the oracles after the gates have run.
  */
final class Gate private (
    val name: String,
    val query: (SparkSession, String) => DataFrame,
    oracleOf: () => String) {
  def oracle: String = oracleOf()

  /** Runs the gate's query. */
  def apply(spark: SparkSession, sfDir: String): DataFrame = query(spark, sfDir)
}

object Gate {
  def apply(name: String, query: (SparkSession, String) => DataFrame,
      oracle: => String): Gate =
    new Gate(name, query, () => oracle)

  /** The gates keyed by name. Names must be distinct: a repeated name
    * would otherwise silently replace the gate declared before it.
    */
  def registry(gates: Seq[Gate]): Map[String, Gate] = {
    val repeated = gates.groupBy(_.name).collect {
      case (name, gs) if gs.size > 1 => name
    }
    require(repeated.isEmpty, "gate names declared more than once: " +
      repeated.toSeq.sorted.mkString(", "))
    gates.map(g => g.name -> g).toMap
  }
}
