package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table access helpers.
  *
  * The driver's `events` table has carried two physical `ts` encodings
  * across testdata generations: parquet `TIMESTAMP(NANOS)` (rounds 1-4),
  * which Spark 4 refuses natively and sessions surface as
  * nanos-since-epoch LongType via `spark.sql.legacy.parquet.nanosAsLong`
  * (see [[Sessions.configure]]); and naive `TIMESTAMP(MICROS)` without
  * the UTC flag (round-5 regeneration), which Spark 4 would infer as
  * TIMESTAMP_NTZ — a type event-time watermarks reject — unless
  * `spark.sql.parquet.inferTimestampNTZ.enabled=false` maps it to plain
  * TimestampType (identical wall values under the pinned UTC session
  * zone, which is also how the DuckDB oracle reads the same file).
  * [[Tables.events]] normalizes the legacy LongType form back to a
  * proper TimestampType column.
  */
object Tables {

  /** events with `ts` as a real TimestampType column */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventsTs(spark.read.parquet(s"$dir/events.parquet"))

  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // exact integer division: `/` is double division and epoch-nanos
        // (~1.7e18) exceed double's 2^53 exact range — a boundary event
        // could land 1µs low and bucket into the previous window
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df // already a timestamp (e.g. rewritten fixtures)
    }
}

object Sessions {
  /** Configs every graft session needs (tests, Verify, Bench, Explain,
    * ScaleUp, the benchmark), plus graft's Catalyst pieces, installed
    * here once through [[graft.functions.GraftSparkExtensions]] so a
    * gate's plan never depends on which gates ran before it. Each call
    * injects again: call it once per builder.
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftSparkExtensions)

  /** A child session that plans as stock Spark: it carries the parent's
    * modifiable SQL conf, with graft's optimizer rules switched off
    * through Spark's own `spark.sql.optimizer.excludedRules`. A gate
    * meant to show the stock plan builds on it.
    */
  def stockPlans(spark: SparkSession): SparkSession = {
    val child = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k)) child.conf.set(k, v)
    }
    val key = org.apache.spark.sql.internal.SQLConf.OPTIMIZER_EXCLUDED_RULES.key
    val graftRules = Seq(graft.plans.RewriteTopNPerGroup.ruleName,
      classOf[graft.plans.MvRewrite.RewriteAggToMv].getName)
    child.conf.set(key, (spark.conf.getOption(key).toSeq ++ graftRules).mkString(","))
    child
  }
}
