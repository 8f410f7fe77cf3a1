package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.polarify.Program

class GraftFunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val hofDot =
    "aggregate(zip_with(a, b, (x, y) -> x*y), 0L, (acc, v) -> acc + v)"

  test("dot_long matches the HOF formulation on random vectors") {
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(200)((
      Seq.fill(64)(rnd.nextInt(20001).toLong - 10000),
      Seq.fill(64)(rnd.nextInt(20001).toLong - 10000)))
    val df = rows.toDF("a", "b")
      .withColumn("native", GraftFunctions.dotLong(col("a"), col("b")))
      .withColumn("hof", expr(hofDot))
    assert(df.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("dot_long null semantics match the HOF formulation") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (array(1L, 2L), array(3L, 4L)),
        |  (CAST(NULL AS array<bigint>), array(3L, 4L)),
        |  (array(1L, CAST(NULL AS bigint)), array(3L, 4L))
        |AS t(a, b)""".stripMargin)
      .select(
        GraftFunctions.dotLong(col("a"), col("b")).as("native"),
        expr(hofDot).as("hof"))
    val rows = df.collect().toSeq
    assert(rows.map(r => (r.isNullAt(0), r.isNullAt(1))) ===
      Seq((false, false), (true, true), (true, true)))
    assert(rows.head === Row(11L, 11L))
  }

  test("dot_long agrees with the HOF path at micro-quantized magnitudes") {
    // quantized embeddings are |v| <= ~1e4 over 64 dims -> |dot| <= ~6.4e9,
    // far inside bigint; verify agreement at the extreme of that envelope
    val big = 10000L
    val df = Seq((Seq.fill(64)(big), Seq.fill(64)(-big))).toDF("a", "b")
      .select(GraftFunctions.dotLong(col("a"), col("b")).as("native"), expr(hofDot).as("hof"))
    val r = df.head()
    assert(r.getLong(0) === -6400000000L && r.getLong(1) === -6400000000L)
  }

  test("dot_long works from SQL after registration and survives codegen") {
    GraftFunctions.register(spark)
    val out = spark.sql(
      "SELECT dot_long(array(1L,2L,3L), array(4L,5L,6L)) AS d").head().getLong(0)
    assert(out === 32L)
    // int arrays implicitly cast to bigint arrays
    val cast = spark.sql("SELECT dot_long(array(1,2), array(3,4)) AS d").head().getLong(0)
    assert(cast === 11L)
  }

  test("GraftSparkExtensions injects dot_long into a session function registry") {
    // spark.sql.extensions is static (read at SparkContext-first-session
    // build), so exercise the injection the way session building does
    val registry = org.apache.spark.sql.graft.Interop
      .applyInjectedFunctions(new GraftSparkExtensions)
    val fn = registry.lookupFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("dot_long"),
      Seq(lit(Array(2L, 3L)), lit(Array(4L, 5L))).map(
        org.apache.spark.sql.graft.Interop.expression))
    assert(fn.isInstanceOf[org.apache.spark.sql.graft.DotProductLong])
    assert(fn.eval(null) === 23L)
  }

  test("GraftSparkExtensions applies cleanly with the optimizer-tier injections") {
    // a broken injection (wrong arity, missing class) throws at apply
    // time — exactly when spark.sql.extensions would fail a real session
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftSparkExtensions().apply(ext)
  }

  test("registered polarify program plans the same CaseWhen as the DataFrame path") {
    import graft.polarify.dsl._
    val x = "x".ref
    val signum = Program(
      "s" := 0,
      When(x > 0)("s" := 1).elseWhen(x < 0)("s" := -1),
      Ret("s".ref))
    GraftFunctions.registerProgram(spark, "signum_pf", Seq("x"), signum)
    Seq(-5L, 0L, 7L).toDF("v").createOrReplaceTempView("sig_in")
    val viaSql = spark.sql("SELECT v, CAST(signum_pf(v) AS BIGINT) AS s FROM sig_in ORDER BY v")
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    assert(viaSql === Seq((-5L, -1L), (0L, 0L), (7L, 1L)))
    // the SQL path must expand to a CaseWhen, not wrap a UDF
    val plan = spark.sql("SELECT signum_pf(v) FROM sig_in")
      .queryExecution.analyzed.toString
    assert(plan.contains("CASE WHEN"))
    assert(!plan.toLowerCase.contains("udf"))
  }

  test("a registered let-lowered program runs from spark.sql") {
    // four sequential blocks, each reading the previous block's result
    // three times: the lowering shares each block's value as a let
    val blocks4 = Program.fromPython(
      """def blocks4(x):
        |    y = x
        |    if y < 3:
        |        y = y + 2
        |    else:
        |        y = y * 2 - 1
        |    if y >= -4:
        |        y = y - 5
        |    else:
        |        y = y * 2 + 3
        |    if y < 0:
        |        y = y + 7
        |    else:
        |        y = y * 2 - 4
        |    if y != 6:
        |        y = y * 3
        |    else:
        |        y = y - 1
        |    return y
        |""".stripMargin)
    assert(graft.polarify.Compiler.letCount(graft.polarify.Compiler.lower(blocks4.stmts)) == 3)
    GraftFunctions.registerProgram(spark, "blocks4_pf", Seq("x"), blocks4)
    (-20L to 20L).toDF("v").createOrReplaceTempView("blocks_in")
    val got = spark.sql("SELECT v, CAST(blocks4_pf(v) AS BIGINT) FROM blocks_in")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def want(x: Long): Long = {
      var y = x
      y = if (y < 3) y + 2 else y * 2 - 1
      y = if (y >= -4) y - 5 else y * 2 + 3
      y = if (y < 0) y + 7 else y * 2 - 4
      if (y != 6) y * 3 else y - 1
    }
    (-20L to 20L).foreach(x => assert(got(x) === want(x), s"x=$x"))

    // its select-list copy matches its GROUP BY copy
    val grouped = spark.sql("SELECT blocks4_pf(v), count(*) FROM blocks_in GROUP BY blocks4_pf(v)")
      .collect().map(r => r.get(0).asInstanceOf[Number].longValue -> r.getLong(1)).toMap
    assert(grouped === (-20L to 20L).groupBy(want).map { case (k, vs) => k -> vs.size.toLong })
  }
}
