package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate

/** Corpus-mixture drift audits: pairwise total-variation distance
  * between source unigram distributions and per-source language
  * diversity. The monitoring layer of the data-mix problem — the
  * tx_mixture_* family DERIVES sampling weights; these queries answer
  * "which sources actually differ, and is any source's language mix
  * collapsing?" before a mix change ships. Both are exact integer ppm
  * (no logs — KL/entropy need libm and drift cross-engine; TV and Gini
  * are the rational-arithmetic members of the divergence/diversity
  * families and lose nothing for ranking).
  *
  * Extension surface beyond reference parity (north star
  * repo:BASELINE.json); the reference generates expressions only
  * (/root/reference/polarify/main.py:49-388).
  */
object DriftAudit {

  // -------------------------------------------------------------------
  // tx_source_tv: pairwise TOTAL-VARIATION distance between the word
  // distributions of every source pair, in exact ppm. TV(P,Q) =
  // ½·Σ_t |p_t − q_t| — the divergence with an operational meaning
  // (the max probability gap any event can show between the corpora)
  // and, unlike KL, symmetric, bounded, defined on disjoint supports,
  // and computable in integers once p_t is quantized to ppm
  // (p_t = 10⁶·c_t div n, truncated identically in both engines).
  //
  // The missing-term mass is handled EXACTLY without a full outer
  // join: Σ|p−q| = Σ_common |p−q| + (ΣP − Σ_common p) + (ΣQ − Σ_common q)
  // — the equi-join covers common terms, per-source ppm totals (ΣP
  // pre-truncation-loss) supply the disjoint tails by subtraction.
  //
  // Scale shape: ONE tokenize pass → (source, term) counts (map-side
  // combined; corpus text dies in the first projection), then a
  // self-equi-join of the per-source term table ON TERM — per-term
  // work is |sources carrying the term|² ≤ |sources|², never doc
  // pairs — aggregated straight to the |sources|²/2-row pair table.
  // Nothing after the first aggregate is corpus-proportional. Source
  // pairs sharing zero terms are definitionally absent from the
  // output (their TV is the sum of the two ppm totals; at any real
  // corpus the common-word head makes the case unreachable).
  // -------------------------------------------------------------------
  /** Frame-parameterized TV core over a (source, term) occurrence
    * frame — exposed for DriftFuzzSpec, which cross-checks the
    * subtraction-based disjoint-mass handling against an all-pairs
    * in-memory reference on random corpora including fully-disjoint
    * vocabularies (where the equi-join sees nothing and the
    * correction carries ALL the mass).
    */
  private[ops] def sourceTvOf(tok: DataFrame): DataFrame = {
    val counts = tok.groupBy("source", "term").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("source").agg(sum(col("c")).as("n"))
    val p = counts.join(totals, Seq("source"))
      .select(col("source"), col("term"),
        expr("(c * 1000000L) div n").as("p"))
    val ptot = p.groupBy("source").agg(sum(col("p")).as("ptot"))
    val a = p.select(col("source").as("sa"), col("term"), col("p").as("pa"))
    val b = p.select(col("source").as("sb"), col("term"), col("p").as("pb"))
    val common = a.join(b, Seq("term")).filter(col("sa") < col("sb"))
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("n_common_terms"),
        sum(abs(col("pa") - col("pb"))).as("l1c"),
        sum(col("pa")).as("pac"), sum(col("pb")).as("pbc"))
    common
      .join(ptot.select(col("source").as("sa"), col("ptot").as("pta")),
        Seq("sa"))
      .join(ptot.select(col("source").as("sb"), col("ptot").as("ptb")),
        Seq("sb"))
      .select(col("sa"), col("sb"), col("n_common_terms"),
        (col("l1c") + (col("pta") - col("pac")) + (col("ptb") - col("pbc")))
          .as("l1_ppm"))
      .withColumn("tv_ppm", expr("l1_ppm div 2"))
      .orderBy("sa", "sb")
  }

  private def sourceTv(spark: SparkSession, dir: String): DataFrame =
    sourceTvOf(spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(length(col("term")) > 0))

  private val sourceTvSql =
    """WITH tok AS (SELECT source,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |t AS (SELECT source, term, COUNT(*) AS c FROM tok
      |      WHERE length(term) > 0 GROUP BY 1, 2),
      |n AS (SELECT source, SUM(c) AS n FROM t GROUP BY 1),
      |p AS (SELECT t.source, term, CAST(c * 1000000 // n.n AS BIGINT) AS p
      |      FROM t JOIN n USING (source)),
      |pt AS (SELECT source, SUM(p) AS ptot FROM p GROUP BY 1),
      |b AS (SELECT a.source AS sa, bb.source AS sb,
      |        COUNT(*) AS n_common_terms,
      |        SUM(ABS(a.p - bb.p)) AS l1c, SUM(a.p) AS pac, SUM(bb.p) AS pbc
      |      FROM p a JOIN p bb USING (term)
      |      WHERE a.source < bb.source GROUP BY 1, 2)
      |SELECT sa, sb, n_common_terms,
      |  CAST(l1c + (pta.ptot - pac) + (ptb.ptot - pbc) AS BIGINT) AS l1_ppm,
      |  CAST((l1c + (pta.ptot - pac) + (ptb.ptot - pbc)) // 2 AS BIGINT)
      |    AS tv_ppm
      |FROM b JOIN pt pta ON pta.source = b.sa
      |       JOIN pt ptb ON ptb.source = b.sb
      |ORDER BY sa, sb""".stripMargin

  // -------------------------------------------------------------------
  // tx_lang_gini: per-source language diversity as GINI IMPURITY in
  // exact ppm — gini = 10⁶ − (Σ_l share_l²) div 10⁶ with share_l =
  // 10⁶·c_l div n. The entropy question ("is this source collapsing
  // to one language?") answered in rational arithmetic: 0 = pure
  // monolingual, → 10⁶·(1−1/k) = uniform over k languages. One
  // division per share + ONE final division (not per-term), so
  // truncation loss is bounded by |langs| ppm.
  //
  // Scale shape: two chained map-side-combined aggregates — corpus →
  // (source, lang) counts → |sources| rows. Output has max_share_ppm
  // alongside (the dominance check) and n_langs; nothing is
  // corpus-proportional after the first aggregate.
  // -------------------------------------------------------------------
  private def langGini(spark: SparkSession, dir: String): DataFrame = {
    val lc = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("source", "lang").agg(count(lit(1)).as("c"))
    val n = lc.groupBy("source")
      .agg(sum(col("c")).as("n_docs"), count(lit(1)).as("n_langs"))
    lc.join(n, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        expr("(c * 1000000L) div n_docs").as("sp"))
      .groupBy("source")
      .agg(min(col("n_docs")).as("n_docs"), min(col("n_langs")).as("n_langs"),
        max(col("sp")).as("max_share_ppm"),
        (lit(1000000L) - expr("sum(sp * sp) div 1000000L")).as("gini_ppm"))
      .orderBy("source")
  }

  private val langGiniSql =
    """WITH lc AS (SELECT source, lang, COUNT(*) AS c FROM documents
      |            GROUP BY 1, 2),
      |n AS (SELECT source, SUM(c) AS n_docs, COUNT(*) AS n_langs
      |      FROM lc GROUP BY 1),
      |sh AS (SELECT lc.source, n_docs, n_langs,
      |         CAST(c * 1000000 // n_docs AS BIGINT) AS sp
      |       FROM lc JOIN n USING (source))
      |SELECT source, CAST(MIN(n_docs) AS BIGINT) AS n_docs,
      |  MIN(n_langs) AS n_langs, MAX(sp) AS max_share_ppm,
      |  CAST(1000000 - SUM(sp * sp) // 1000000 AS BIGINT) AS gini_ppm
      |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("tx_source_tv", sourceTv, sourceTvSql),
    Gate("tx_lang_gini", langGini, langGiniSql)
  )
}
