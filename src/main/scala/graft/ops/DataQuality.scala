package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate

/** Data-quality operators: single-pass column profiling and statistical
  * outlier detection — the screening steps that run over every ingest
  * batch of a training-data pipeline before anything else is allowed to.
  */
object DataQuality {

  // -------------------------------------------------------------------
  // ax_profile: per-column profile (non-null count, exact distinct,
  // min/max) of the orders table in ONE scan. All metrics for all
  // profiled columns are computed in a single aggregate (the distincts
  // share one Expand-based pass), producing a 1-row wide result that a
  // driver-side `stack` reshapes to one row per column — the reshape
  // costs nothing because it runs on one row. Profiling with one scan
  // per column (the naive UNION ALL formulation) reads the table N
  // times; at 100 TB that is the difference between a screening step
  // and a full re-ingest per column.
  // -------------------------------------------------------------------
  private def profile(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("o_custkey")).as("nn1"),
        countDistinct(col("o_custkey")).as("nd1"),
        min(col("o_custkey")).cast("string").as("mn1"),
        max(col("o_custkey")).cast("string").as("mx1"),
        count(col("o_orderdate")).as("nn2"),
        countDistinct(col("o_orderdate")).as("nd2"),
        date_format(min(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("mn2"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("mx2"),
        count(col("o_orderstatus")).as("nn3"),
        countDistinct(col("o_orderstatus")).as("nd3"),
        min(col("o_orderstatus")).as("mn3"),
        max(col("o_orderstatus")).as("mx3"))
      .select(col("n_rows"), expr(
        """stack(3,
          |  'o_custkey',     nn1, nd1, mn1, mx1,
          |  'o_orderdate',   nn2, nd2, mn2, mx2,
          |  'o_orderstatus', nn3, nd3, mn3, mx3)
          |AS (col_name, n_nonnull, n_distinct, min_s, max_s)""".stripMargin))
      .select("col_name", "n_rows", "n_nonnull", "n_distinct", "min_s", "max_s")
      .orderBy("col_name")

  private val profileSql =
    """WITH a AS (SELECT COUNT(*) AS n_rows,
      |  COUNT(o_custkey) AS nn1, COUNT(DISTINCT o_custkey) AS nd1,
      |  CAST(MIN(o_custkey) AS VARCHAR) AS mn1,
      |  CAST(MAX(o_custkey) AS VARCHAR) AS mx1,
      |  COUNT(o_orderdate) AS nn2, COUNT(DISTINCT o_orderdate) AS nd2,
      |  strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mn2,
      |  strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mx2,
      |  COUNT(o_orderstatus) AS nn3, COUNT(DISTINCT o_orderstatus) AS nd3,
      |  MIN(o_orderstatus) AS mn3, MAX(o_orderstatus) AS mx3
      |  FROM orders)
      |SELECT 'o_custkey' AS col_name, n_rows, nn1 AS n_nonnull,
      |  nd1 AS n_distinct, mn1 AS min_s, mx1 AS max_s FROM a
      |UNION ALL SELECT 'o_orderdate', n_rows, nn2, nd2, mn2, mx2 FROM a
      |UNION ALL SELECT 'o_orderstatus', n_rows, nn3, nd3, mn3, mx3 FROM a
      |ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_outliers: per-event-type 3-sigma outliers in EXACT integer math.
  // Mean/variance come from per-type sums (n, Σx, Σx²) — a partial-agg
  // groupBy producing one tiny row per type, broadcast back onto the
  // stream. The test (x·n − Σx)² > 9·(n·Σx² − (Σx)²) is the 3σ rule
  // with both sides multiplied by n², so it stays in integer arithmetic
  // and is bit-identical across engines (float stddev would drift in
  // the last ulp). Magnitudes: units ≤ ~600, n ≤ 2^17 per type at
  // sf0.1 → both sides < 2^55, no overflow headroom issues; at larger
  // n switch the two product terms to DECIMAL.
  // Broadcast-join beats a window over event_type: a 5-partition
  // window would put a fifth of 100 TB in one task.
  // -------------------------------------------------------------------
  private def outliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        round(col("value")).cast("long").as("u"))
    val stats = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("u")).as("s"),
        sum(col("u") * col("u")).as("ss"))
    val dev = col("u") * col("n") - col("s")
    ev.join(broadcast(stats), "event_type")
      .filter(dev * dev > lit(9L) * (col("n") * col("ss") - col("s") * col("s")))
      .select(col("event_id"), col("event_type"), col("u").as("units"))
      .orderBy("event_id")
  }

  private val outliersSql =
    """WITH e AS (SELECT event_id, event_type,
      |             CAST(round(value) AS BIGINT) AS u FROM events),
      |st AS (SELECT event_type, COUNT(*) AS n, SUM(u) AS s, SUM(u*u) AS ss
      |       FROM e GROUP BY 1)
      |SELECT e.event_id, e.event_type, e.u AS units
      |FROM e JOIN st USING (event_type)
      |WHERE (e.u*n - s)*(e.u*n - s) > 9*(n*ss - s*s)
      |ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_benford: first-significant-digit distribution audit (Benford's
  // law) over order totals — the classic fraud/synthetic-data smell
  // test: organically-scaled magnitudes put digit d first with
  // probability log10(1 + 1/d); fabricated or truncated populations
  // don't. Two determinism choices: the leading digit is extracted
  // from the DECIMAL STRING of integer cents (substr of a cast — no
  // float log10 whose rounding could differ per engine at digit
  // boundaries), and the expected frequencies are PRECOMPUTED integer
  // ppm literals shared by both engines. Scale shape: one map-side
  // projection into a 9-bucket hash aggregate (9 rows move per
  // mapper at any SF), then the expected-table attach is a broadcast
  // of 9 literal rows. Output: per digit, observed n, observed ppm
  // (exact integer division), expected ppm, absolute deviation ppm.
  // -------------------------------------------------------------------
  private val benfordPpm: Seq[(Int, Long)] =
    (1 to 9).map(d => d -> math.floor(1e6 * math.log10(1.0 + 1.0 / d)).toLong)

  private def benford(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exp = broadcast(benfordPpm.toDF("digit", "expected_ppm")
      .select(col("digit").cast("long").as("digit"), col("expected_ppm")))
    val obs = spark.read.parquet(s"$dir/orders.parquet")
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("long")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = obs.agg(sum(col("n")).as("total"))
    obs.crossJoin(broadcast(tot))
      .join(exp, Seq("digit"))
      .select(col("digit"), col("n"),
        expr("(1000000 * n) div total").as("observed_ppm"),
        col("expected_ppm"),
        abs(expr("(1000000 * n) div total") - col("expected_ppm"))
          .as("abs_dev_ppm"))
      .orderBy("digit")
  }

  private val benfordSql = {
    val values = benfordPpm
      .map { case (d, p) => s"($d, ${p}::BIGINT)" }.mkString(", ")
    s"""WITH obs AS (
       |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
       |    COUNT(*) AS n
       |  FROM (SELECT CAST(round(o_totalprice*100) AS BIGINT) AS cents
       |        FROM orders) t
       |  WHERE cents > 0 GROUP BY 1),
       |tot AS (SELECT SUM(n) AS total FROM obs),
       |exp(digit, expected_ppm) AS (VALUES $values)
       |SELECT o.digit, o.n,
       |  CAST((1000000 * o.n) // t.total AS BIGINT) AS observed_ppm,
       |  e.expected_ppm,
       |  CAST(abs((1000000 * o.n) // t.total - e.expected_ppm) AS BIGINT)
       |    AS abs_dev_ppm
       |FROM obs o, tot t JOIN exp e ON o.digit = e.digit
       |ORDER BY o.digit""".stripMargin
  }

  // -------------------------------------------------------------------
  // ax_disorder_audit: EVENT-TIME DISORDER measurement — the number
  // that SIZES WATERMARKS. Per user, walk events in arrival order
  // (event_id) and measure how far each event's timestamp lags the
  // running maximum seen so far; the per-type rollup (inversion count,
  // max and total lag) is exactly the evidence a pipeline owner needs
  // to choose `withWatermark`'s delay: a watermark below max_delay_sec
  // drops data (see st_late_drop), one far above it holds state for
  // nothing. Scale shape: the ordered window partitions by USER — a
  // high-cardinality key, millions of small sorted partitions, the
  // opposite of the low-cardinality trap — and the per-type rollup is
  // a map-side-combining hash aggregate of 4 rows per mapper.
  // first-row NULL handling is pinned explicitly (coalesce to own ts →
  // delay 0); Spark's greatest() skips NULLs where DuckDB's propagates
  // them, a cross-engine divergence that must never decide a row.
  // -------------------------------------------------------------------
  private def disorderAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    graft.Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("prev_max", max(col("sec")).over(w))
      .withColumn("delay",
        greatest(lit(0L), coalesce(col("prev_max"), col("sec")) - col("sec")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum((col("delay") > 0).cast("long")).as("n_late"),
        max(col("delay")).as("max_delay_sec"),
        sum(col("delay")).as("sum_delay_sec"))
      .orderBy("event_type")
  }

  private val disorderAuditSql =
    """WITH e AS (
      |  SELECT event_type, user_id, event_id,
      |    CAST(epoch(ts) AS BIGINT) AS sec
      |  FROM events),
      |m AS (
      |  SELECT event_type, sec,
      |    MAX(sec) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |  FROM e)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN COALESCE(prev_max, sec) - sec > 0
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  CAST(MAX(GREATEST(0, COALESCE(prev_max, sec) - sec)) AS BIGINT)
      |    AS max_delay_sec,
      |  CAST(SUM(GREATEST(0, COALESCE(prev_max, sec) - sec)) AS BIGINT)
      |    AS sum_delay_sec
      |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_k_anonymity: PRIVACY RE-IDENTIFICATION audit — k-anonymity and
  // l-diversity over quasi-identifier classes, the table a release
  // review reads before any record-level data leaves the fence. QI =
  // (nation, market segment): every record in an equivalence class of
  // size < k is re-identifiable by linking those public attributes;
  // l-diversity then catches the subtler failure where a class is
  // large but its SENSITIVE attribute (here: negative account balance)
  // is homogeneous — class size 50, all in debt, membership alone
  // discloses the secret. One groupBy over the QI pair (bounded by
  // |nation|×|segment| classes) + one rollup row: class count,
  // smallest class, records below k=5, and the minimum class
  // l-diversity. Scale shape: map-side-combined aggregate; at 100 TB
  // the QI cardinality, not the row count, bounds everything after
  // the first partial agg.
  // -------------------------------------------------------------------
  private def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("seg"),
        (col("c_acctbal") < 0).cast("long").as("in_debt"))
      .groupBy("nation", "seg")
      .agg(count(lit(1)).as("sz"),
        countDistinct(col("in_debt")).as("l"))
      .agg(count(lit(1)).as("n_classes"),
        min(col("sz")).as("min_class"),
        sum(when(col("sz") < 5, col("sz")).otherwise(0L))
          .as("n_records_lt_k5"),
        min(col("l")).as("min_l"))

  private val kAnonymitySql =
    """WITH cls AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS seg,
      |    COUNT(*) AS sz,
      |    COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS l
      |  FROM customer GROUP BY 1, 2)
      |SELECT COUNT(*) AS n_classes,
      |  CAST(MIN(sz) AS BIGINT) AS min_class,
      |  CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
      |    AS n_records_lt_k5,
      |  CAST(MIN(l) AS BIGINT) AS min_l
      |FROM cls""".stripMargin

  // -------------------------------------------------------------------
  // ax_dp_geometric: DIFFERENTIAL PRIVACY for released aggregates —
  // the GEOMETRIC mechanism (Ghosh/Roughgarden/Sundararajan: the
  // discrete Laplace, ε-DP for counts, α = e^-ε = 1/2 here), made
  // reproducible the same way ax_poisson_boot makes resampling
  // reproducible: the per-release noise draw is the 60-bit portable
  // hash of (release nonce, group) inverted through the mechanism's
  // CDF ladder — integer-literal thresholds floor(P(K≤k)·2⁶⁰),
  // truncated to ±8 — so both engines draw the IDENTICAL noise and
  // the gate pins the released table bit-for-bit. (True DP would use
  // a secret nonce; the mechanism, sensitivity-1 count release, and
  // utility accounting are exactly what ships.) Emitted per segment:
  // true count, the drawn noise, and the released noisy count — the
  // |noise| column is the utility cost the ε budget buys. One
  // QI-bounded aggregate; noise attaches map-side to group rows.
  // -------------------------------------------------------------------
  private val GeoCdf60: Seq[(Int, Long)] = Seq(
    -8 -> 1505119457711288L, -7 -> 4515358373133866L,
    -6 -> 10535836203979020L, -5 -> 22576791865669328L,
    -4 -> 46658703189049944L, -3 -> 94822525835811168L,
    -2 -> 191150171129333632L, -1 -> 383805461716378560L,
    0 -> 769116042890468352L, 1 -> 961771333477513216L,
    2 -> 1058098978771035648L, 3 -> 1106262801417796864L,
    4 -> 1130344712741177472L, 5 -> 1142385668402867840L,
    6 -> 1148406146233713024L, 7 -> 1151416385149135616L)

  private def geoKSql(u: String): String =
    GeoCdf60.map { case (k, t) => s"WHEN $u < ${t}L THEN $k" }
      .mkString("CASE ", " ", " ELSE 8 END")

  private def geoKSqlDuck(u: String): String =
    GeoCdf60.map { case (k, t) => s"WHEN $u < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 8 END")

  private def dpGeometric(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/customer.parquet")
      .groupBy(col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n"))
      .withColumn("u", graft.ops.PortableHash.hashCol(
        concat(lit("dp1#"), col("seg"))))
      .withColumn("k", expr(geoKSql("u")).cast("long"))
      .select(col("seg"), col("n"), col("k").as("noise"),
        (col("n") + col("k")).as("released"))
      .orderBy("seg")

  private val dpGeometricSql = {
    val u = graft.ops.PortableHash.hashSql("('dp1#' || seg)")
    s"""WITH g AS (SELECT c_mktsegment AS seg, COUNT(*) AS n
       |  FROM customer GROUP BY 1),
       |d AS (SELECT seg, n, ${geoKSqlDuck(u)} AS k FROM g)
       |SELECT seg, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS noise,
       |  CAST(n + k AS BIGINT) AS released
       |FROM d ORDER BY seg""".stripMargin
  }

  // -------------------------------------------------------------------
  // ax_fk_orphans: REFERENTIAL-INTEGRITY audit — for every foreign-key
  // relationship in the star schema, the child rows whose key has no
  // parent (orphans), as (relationship, child rows, orphan rows,
  // distinct orphan keys). Lakes have no FK enforcement; this audit IS
  // the constraint, run per ingest batch, and "all zeros" is the
  // certificate every downstream join silently assumes.
  //
  // Scale shape: one LEFT ANTI join per relationship, keyed on the FK —
  // the parent side is projected to its key column only, dimension
  // parents broadcast (part/supplier/customer/nation), the fact-fact
  // edge (lineitem→orders) co-shuffles on the order key. Each audit
  // collapses to a 1-row aggregate; the union is O(#relationships).
  // NULL FKs count as orphans here deliberately (an unset FK breaks
  // the same joins a dangling one does) — anti join keeps NULL keys.
  // -------------------------------------------------------------------
  private def fkOrphans(spark: SparkSession, dir: String): DataFrame = {
    def audit(rel: String, child: DataFrame, fk: String,
        parent: DataFrame, pk: String): DataFrame =
      child.select(col(fk))
        .join(parent.select(col(pk)), col(fk) === col(pk), "left_anti")
        .agg(count(lit(1)).as("n_orphans"),
          countDistinct(col(fk)).as("n_orphan_keys"))
        .crossJoin(broadcast(
          child.agg(count(lit(1)).as("n_rows"))))
        .select(lit(rel).as("relationship"), col("n_rows"),
          col("n_orphans"), col("n_orphan_keys"))
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val p = spark.read.parquet(s"$dir/part.parquet")
    val s = spark.read.parquet(s"$dir/supplier.parquet")
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val n = spark.read.parquet(s"$dir/nation.parquet")
    audit("customer.nation", c, "c_nationkey", n, "n_nationkey")
      .unionAll(audit("lineitem.orders", li, "l_orderkey", o, "o_orderkey"))
      .unionAll(audit("lineitem.part", li, "l_partkey", p, "p_partkey"))
      .unionAll(audit("lineitem.supplier", li, "l_suppkey", s, "s_suppkey"))
      .unionAll(audit("orders.customer", o, "o_custkey", c, "c_custkey"))
      .orderBy("relationship")
  }

  private val fkOrphansSql =
    """SELECT * FROM (
      |  SELECT 'customer.nation' AS relationship,
      |    (SELECT COUNT(*) FROM customer) AS n_rows,
      |    COUNT(*) AS n_orphans, COUNT(DISTINCT c_nationkey) AS n_orphan_keys
      |  FROM customer WHERE c_nationkey NOT IN
      |    (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL)
      |    OR c_nationkey IS NULL
      |  UNION ALL
      |  SELECT 'lineitem.orders',
      |    (SELECT COUNT(*) FROM lineitem),
      |    COUNT(*), COUNT(DISTINCT l_orderkey)
      |  FROM lineitem WHERE l_orderkey NOT IN
      |    (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)
      |    OR l_orderkey IS NULL
      |  UNION ALL
      |  SELECT 'lineitem.part',
      |    (SELECT COUNT(*) FROM lineitem),
      |    COUNT(*), COUNT(DISTINCT l_partkey)
      |  FROM lineitem WHERE l_partkey NOT IN
      |    (SELECT p_partkey FROM part WHERE p_partkey IS NOT NULL)
      |    OR l_partkey IS NULL
      |  UNION ALL
      |  SELECT 'lineitem.supplier',
      |    (SELECT COUNT(*) FROM lineitem),
      |    COUNT(*), COUNT(DISTINCT l_suppkey)
      |  FROM lineitem WHERE l_suppkey NOT IN
      |    (SELECT s_suppkey FROM supplier WHERE s_suppkey IS NOT NULL)
      |    OR l_suppkey IS NULL
      |  UNION ALL
      |  SELECT 'orders.customer',
      |    (SELECT COUNT(*) FROM orders),
      |    COUNT(*), COUNT(DISTINCT o_custkey)
      |  FROM orders WHERE o_custkey NOT IN
      |    (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
      |    OR o_custkey IS NULL
      |) ORDER BY relationship""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("ax_fk_orphans", fkOrphans, fkOrphansSql),
    Gate("ax_k_anonymity", kAnonymity, kAnonymitySql),
    Gate("ax_dp_geometric", dpGeometric, dpGeometricSql),
    Gate("ax_profile", profile, profileSql),
    Gate("ax_outliers", outliers, outliersSql),
    Gate("ax_benford", benford, benfordSql),
    Gate("ax_disorder_audit", disorderAudit, disorderAuditSql)
  )
}
