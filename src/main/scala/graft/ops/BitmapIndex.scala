package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate

/** Bitmap-index set algebra over the event stream: per-segment user
  * sets packed 64 users per int64 word (the roaring/bitmap-index
  * technique every OLAP engine uses for audience overlap), so set
  * intersections become word-aligned AND + popcount instead of a
  * fact-table re-shuffle per pair. The DuckDB oracle computes the SAME
  * answers from the raw distinct-membership join — the bitmap algebra
  * is cross-checked against its definition, the dd_dup_clusters ≡
  * dd_cc_bigstar discipline.
  *
  * Extension surface beyond reference parity (north star
  * repo:BASELINE.json); the reference generates expressions only
  * (/root/reference/polarify/main.py:49-388).
  */
object BitmapIndex {

  /** (event_type, word index, packed bits) — the bitmap substrate:
    * one distinct pass on the HIGH-cardinality (type, user) key, then
    * one map-side-combined bit_or aggregate. 64× smaller than the
    * membership list, and every downstream set operation joins on the
    * tiny word index instead of user_id.
    */
  /** Frame-parameterized packing core over an (event_type, user_id)
    * frame — exposed for BitmapIndexSpec's negative-id fuzz.
    */
  private[ops] def bitmapWordsOf(membership: DataFrame): DataFrame =
    membership
      .select(col("event_type"), col("user_id")).distinct()
      // FLOORING word decomposition: `(id - pmod(id,64)) div 64` is a
      // truncating div of an exact multiple of 64, i.e. floor division
      // for any sign — matching DuckDB's flooring `//`. Bare `div`
      // truncates toward zero, so a negative id (e.g. -1 → word 0 bit
      // 63) would collide with positive ids and diverge from the
      // oracle; fixture ids are non-negative today, but the substrate
      // shouldn't carry that precondition silently.
      .select(col("event_type"),
        expr("(user_id - pmod(user_id, 64)) div 64").as("w"),
        expr("shiftleft(1L, CAST(pmod(user_id, 64) AS INT))").as("bit"))
      .groupBy("event_type", "w")
      .agg(expr("bit_or(bit)").as("bits"))

  private def bitmapWords(spark: SparkSession, dir: String): DataFrame =
    bitmapWordsOf(spark.read.parquet(s"$dir/events.parquet"))

  // -------------------------------------------------------------------
  // ax_bitmap_intersect: AUDIENCE OVERLAP between every event-type
  // pair — distinct co-active users, via word-aligned AND + popcount
  // over the packed bitmaps. The scale story is the point: the
  // |types|² pair comparison runs over |users|/64 words per type
  // (already aggregated), never re-shuffling the fact table per pair,
  // and the word-index equi-join co-partitions both sides in one
  // exchange. Jaccard in exact permille from popcounts
  // (|A∩B| ≥ 1 guaranteed by the n_both > 0 filter, which also
  // matches the oracle's inner-join semantics).
  // -------------------------------------------------------------------
  private def bitmapIntersect(spark: SparkSession, dir: String): DataFrame = {
    // persist: four consumers (both join sides + both total attaches)
    // read the words substrate — without it each branch re-scans and
    // re-aggregates the fact table (the plan audit showed 4 scans)
    val words = bitmapWords(spark, dir).persist()
    val tot = words.groupBy("event_type")
      .agg(sum(expr("CAST(bit_count(bits) AS BIGINT)")).as("n"))
    val wa = words.select(col("event_type").as("type_a"), col("w"),
      col("bits").as("bits_a"))
    val wb = words.select(col("event_type").as("type_b"), col("w"),
      col("bits").as("bits_b"))
    wa.join(wb, Seq("w")).filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(sum(expr("CAST(bit_count(bits_a & bits_b) AS BIGINT)"))
        .as("n_both"))
      .filter(col("n_both") > 0)
      .join(broadcast(tot.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(tot.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        expr("(n_both * 1000L) div (n_a + n_b - n_both)")
          .as("jaccard_permille"))
      .orderBy("type_a", "type_b")
  }

  private val bitmapIntersectSql =
    """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
      |tot AS (SELECT event_type, COUNT(*) AS n FROM du GROUP BY 1),
      |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    COUNT(*) AS n_both
      |  FROM du a JOIN du b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, ta.n AS n_a, tb.n AS n_b, n_both,
      |  CAST(n_both * 1000 // (ta.n + tb.n - n_both) AS BIGINT)
      |    AS jaccard_permille
      |FROM p
      |JOIN tot ta ON ta.event_type = p.type_a
      |JOIN tot tb ON tb.event_type = p.type_b
      |ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // ax_bitmap_density: the bitmap-layout audit that decides whether
  // packed bitmaps pay for themselves per segment — words allocated
  // vs the dense id-span (sparse holes → consider roaring containers),
  // and bits set per word (fill in exact permille of 64·words). This
  // is the table a storage owner reads before switching an audience
  // store to bitmap indexes. Oracle recomputes every figure from raw
  // distinct memberships — the packed popcount bookkeeping is checked
  // against its definition.
  // -------------------------------------------------------------------
  private def bitmapDensity(spark: SparkSession, dir: String): DataFrame =
    bitmapWords(spark, dir)
      .groupBy("event_type")
      .agg(sum(expr("CAST(bit_count(bits) AS BIGINT)")).as("n_users"),
        count(lit(1)).as("n_words"),
        (max(col("w")) - min(col("w")) + 1L).as("span_words"))
      .select(col("event_type"), col("n_users"), col("n_words"),
        col("span_words"),
        expr("(n_users * 1000L) div (n_words * 64L)").as("fill_permille"),
        expr("(n_words * 1000L) div span_words").as("occupancy_permille"))
      .orderBy("event_type")

  private val bitmapDensitySql =
    """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
      |w AS (SELECT event_type, user_id // 64 AS w FROM du),
      |s AS (SELECT event_type, COUNT(*) AS n_users,
      |    COUNT(DISTINCT w) AS n_words,
      |    MAX(w) - MIN(w) + 1 AS span_words
      |  FROM w GROUP BY 1)
      |SELECT event_type, n_users, n_words,
      |  CAST(span_words AS BIGINT) AS span_words,
      |  CAST(n_users * 1000 // (n_words * 64) AS BIGINT) AS fill_permille,
      |  CAST(n_words * 1000 // span_words AS BIGINT) AS occupancy_permille
      |FROM s ORDER BY 1""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("ax_bitmap_intersect", bitmapIntersect, bitmapIntersectSql),
    Gate("ax_bitmap_density", bitmapDensity, bitmapDensitySql)
  )
}
