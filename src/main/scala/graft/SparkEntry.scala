package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.polarify.Corpus

/** The gate registry and the driver's entry points.
  *
  * Every gate is a [[Gate]]: a Spark query plus the DuckDB oracle SQL
  * that must return the same rows. `queries` and `oracleSql` are the two
  * views of the one registry that Verify, Bench and the benchmark read,
  * so their key sets are equal by construction.
  *
  * Parity gates (`pf_`): one per reference corpus function (SURVEY.md
  * §2c). Each binds the compiled when-chain to `x := CAST(l_quantity AS
  * BIGINT) - 25` over `lineitem` (values straddle every branch boundary
  * of the corpus, matching the reference fixture's [-100,100] spirit,
  * ref tests/test_parse_body.py:38-43) and dumps the complete extensional
  * mapping `SELECT DISTINCT x, result ORDER BY x` — deterministic, tiny,
  * and a full conformance check of the compiled expression.
  *
  * The DuckDB oracle SQL is generated from the SAME compiled AST by
  * [[graft.polarify.SqlGen]], so Spark and oracle can never drift.
  *
  * Scale note: every parity query is scan → project → partial/final
  * hash-distinct on ≤201 groups → negligible shuffle; plans are
  * whole-stage codegen'd with no UDFs.
  */
object SparkEntry {

  private def lineitem(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")

  /** x binding, Spark side: integer-valued quantity recentered around 0. */
  private val xCol = col("l_quantity").cast("long") - lit(25L)
  /** x binding, oracle side (DuckDB reads the same parquet). */
  private val xSql = "(CAST(l_quantity AS BIGINT) - 25)"

  private def parityQuery(c: Corpus.Case): (SparkSession, String) => DataFrame =
    (spark, dir) =>
      lineitem(spark, dir)
        .select(
          xCol.as("x"),
          c.program.column(Map("x" -> xCol)).cast("long").as("r"))
        .distinct()
        .orderBy("x")

  private def parityOracle(c: Corpus.Case): String = {
    val caseSql = c.program.sql(Map("x" -> xSql))
    s"SELECT DISTINCT $xSql AS x, CAST(($caseSql) AS BIGINT) AS r " +
      s"FROM lineitem ORDER BY x"
  }

  private val parity: Map[String, Gate] = Gate.registry(Corpus.all.map(c =>
    Gate(s"pf_${c.name}", parityQuery(c), parityOracle(c))))

  /** Every gate, keyed by name: the 54 parity gates and the extension
    * gates of [[graft.ops.Extensions]].
    */
  private lazy val gates: Map[String, Gate] =
    Gate.registry(parity.values.toSeq ++ ops.Extensions.gates)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    parity("pf_signum")(spark, "/root/testdata/sf0.001")

  /** Each gate's Spark query, by gate name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { case (name, g) => name -> g.query }

  /** Each gate's DuckDB oracle SQL, by gate name, over the same parquet
    * tables as its query. Read afresh on every call (see [[Gate]]).
    */
  def oracleSql: Map[String, String] =
    gates.map { case (name, g) => name -> g.oracle }
}
