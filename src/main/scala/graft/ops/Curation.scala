package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate

/** Corpus-hygiene operators a training-data pipeline runs before a
  * model ever sees a token: benchmark decontamination and sensitive-term
  * redaction. Both are pure Column pipelines over `documents` with
  * DuckDB oracle twins generated from the same Scala config.
  *
  * Scale notes (the 100 TB shapes):
  *   - decontamination joins the CORPUS (huge) against the BENCHMARK
  *     n-gram set (tiny — eval suites are KBs, not TBs), so the gram
  *     table is broadcast and the corpus never shuffles; the whole
  *     query is scan → explode → broadcast-hash-join → partial agg.
  *   - redaction is embarrassingly parallel (regexp_replace per row,
  *     codegen'd, zero shuffles beyond the final tiny ORDER BY).
  */
object Curation {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  // -------------------------------------------------------------------
  // tx_decontam: n-gram benchmark decontamination (the GPT-3/Gopher
  // procedure: drop or flag training docs sharing rare n-grams with the
  // eval set). Benchmark membership is a pure function of the stable
  // doc_id (doc_id % 50 = 0 — stands in for "the eval suite"); overlap
  // is counted on word 3-grams of the normalized text. Real pipelines
  // use 8-13-grams; this corpus's ~30-word synthetic vocabulary needs
  // n=3 for any collision signal, and n is a single constant below.
  // Output: every contaminated corpus doc with how many distinct grams
  // hit and how many distinct benchmark docs it collides with.
  // -------------------------------------------------------------------
  private val BenchMod = 50

  /** word 3-grams of the split array `w`, [] when the doc is shorter
    * than 3 tokens (Spark's `sequence(1, 0)` throws where DuckDB's
    * `range` is empty — never let that divergence reach data)
    */
  private val gramsExpr =
    """CASE WHEN size(w) >= 3 THEN
      |  transform(sequence(1, size(w) - 2),
      |    i -> concat_ws(' ', element_at(w, i), element_at(w, i+1),
      |                   element_at(w, i+2)))
      |ELSE array() END""".stripMargin

  private val gramsSqlDuck =
    """CASE WHEN len(w) >= 3 THEN
      |  list_transform(range(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      |ELSE [] END""".stripMargin

  private def decontam(spark: SparkSession, dir: String): DataFrame = {
    val grams = docs(spark, dir)
      .select(col("doc_id"), split(TextAnalysis.normCol, " ").as("w"))
      .select(col("doc_id"),
        explode(array_distinct(expr(gramsExpr))).as("gram"))
    val bench = grams.filter(pmod(col("doc_id"), lit(BenchMod)) === 0)
      .select(col("doc_id").as("bench_doc"), col("gram"))
    val corpus = grams.filter(pmod(col("doc_id"), lit(BenchMod)) =!= 0)
    corpus
      .join(broadcast(bench), "gram")
      .groupBy("doc_id")
      .agg(
        countDistinct(col("gram")).as("n_hit_grams"),
        countDistinct(col("bench_doc")).as("n_bench_docs"))
      .orderBy("doc_id")
  }

  private val decontamSql =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split(norm, ' ') AS w
       |  FROM (SELECT doc_id, ${TextAnalysis.normSqlDef} AS norm
       |        FROM documents) d),
       |g AS (
       |  SELECT doc_id, unnest(list_distinct($gramsSqlDuck)) AS gram
       |  FROM ws),
       |b AS (SELECT doc_id AS bench_doc, gram FROM g WHERE doc_id % $BenchMod = 0),
       |c AS (SELECT doc_id, gram FROM g WHERE doc_id % $BenchMod <> 0)
       |SELECT c.doc_id,
       |  CAST(COUNT(DISTINCT c.gram) AS BIGINT) AS n_hit_grams,
       |  CAST(COUNT(DISTINCT b.bench_doc) AS BIGINT) AS n_bench_docs
       |FROM c JOIN b ON c.gram = b.gram
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // tx_contam_report: the EVAL OWNER'S view of contamination —
  // tx_decontam answers "which training docs must go"; this answers
  // "which benchmark items are already burned, and how badly". Per
  // eval doc: how many of its distinct grams appear anywhere in the
  // training corpus, how many training docs touch it, and the
  // compromised fraction in exact permille — the table that decides
  // whether an eval stays trustworthy or gets rotated. Same broadcast
  // asymmetry as decontam (the eval side is KBs; the corpus side
  // streams past it map-side) with the aggregation flipped to the
  // bench key; the per-eval-doc gram totals join back on the tiny
  // bench side only.
  // -------------------------------------------------------------------
  private def contamReport(spark: SparkSession, dir: String): DataFrame = {
    val grams = docs(spark, dir)
      .select(col("doc_id"), split(TextAnalysis.normCol, " ").as("w"))
      .select(col("doc_id"),
        explode(array_distinct(expr(gramsExpr))).as("gram"))
    val bench = grams.filter(pmod(col("doc_id"), lit(BenchMod)) === 0)
      .select(col("doc_id").as("bench_doc"), col("gram"))
    val benchTotals = bench.groupBy("bench_doc")
      .agg(count(lit(1)).as("n_grams"))
    val corpus = grams.filter(pmod(col("doc_id"), lit(BenchMod)) =!= 0)
    val hits = corpus.join(broadcast(bench), "gram")
      .groupBy("bench_doc")
      .agg(countDistinct(col("gram")).as("n_burned_grams"),
        countDistinct(col("doc_id")).as("n_corpus_docs"))
    benchTotals.join(hits, Seq("bench_doc"), "left_outer")
      .select(col("bench_doc"), col("n_grams"),
        coalesce(col("n_burned_grams"), lit(0L)).as("n_burned_grams"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"),
        expr("(1000 * coalesce(n_burned_grams, 0)) div n_grams")
          .as("burned_pm"))
      .orderBy("bench_doc")
  }

  private val contamReportSql =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split(norm, ' ') AS w
       |  FROM (SELECT doc_id, ${TextAnalysis.normSqlDef} AS norm
       |        FROM documents) d),
       |g AS (
       |  SELECT doc_id, unnest(list_distinct($gramsSqlDuck)) AS gram
       |  FROM ws),
       |b AS (SELECT doc_id AS bench_doc, gram FROM g
       |      WHERE doc_id % $BenchMod = 0),
       |bt AS (SELECT bench_doc, COUNT(*) AS n_grams FROM b GROUP BY 1),
       |c AS (SELECT doc_id, gram FROM g WHERE doc_id % $BenchMod <> 0),
       |hit AS (
       |  SELECT b.bench_doc,
       |    COUNT(DISTINCT b.gram) AS n_burned_grams,
       |    COUNT(DISTINCT c.doc_id) AS n_corpus_docs
       |  FROM c JOIN b ON c.gram = b.gram
       |  GROUP BY 1)
       |SELECT bt.bench_doc, bt.n_grams,
       |  CAST(COALESCE(h.n_burned_grams, 0) AS BIGINT) AS n_burned_grams,
       |  CAST(COALESCE(h.n_corpus_docs, 0) AS BIGINT) AS n_corpus_docs,
       |  CAST((1000 * COALESCE(h.n_burned_grams, 0)) // bt.n_grams AS BIGINT)
       |    AS burned_pm
       |FROM bt LEFT OUTER JOIN hit h ON bt.bench_doc = h.bench_doc
       |ORDER BY bt.bench_doc""".stripMargin

  // -------------------------------------------------------------------
  // tx_decontam_fuzzy: THRESHOLD-overlap decontamination — the form
  // eval leakage actually takes in practice. Exact membership
  // (tx_decontam) only catches verbatim n-gram hits; paraphrased or
  // lightly-edited contamination shares MANY grams with the eval set
  // without any single doc-level identity. The standard counter
  // (PaLM/Llama-style) is fractional: flag a training doc when ≥ τ of
  // its distinct n-grams appear anywhere in the eval gram SET. Still
  // broadcast-asymmetric — the eval gram set is KBs, the corpus never
  // shuffles; one scan → explode → broadcast LEFT join → per-doc
  // partial agg. The overlap fraction is kept in exact per-mille
  // integer arithmetic (floor(1000·hits/grams)) so the whole row —
  // fraction and flag — hash-matches the oracle; τ = 500 ‰.
  // -------------------------------------------------------------------
  private val FuzzyTauPm = 500L

  private def decontamFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val grams = docs(spark, dir)
      .select(col("doc_id"), split(TextAnalysis.normCol, " ").as("w"))
      .select(col("doc_id"),
        explode(array_distinct(expr(gramsExpr))).as("gram"))
    val benchSet = grams.filter(pmod(col("doc_id"), lit(BenchMod)) === 0)
      .select("gram").distinct().withColumn("hit", lit(1L))
    val corpus = grams.filter(pmod(col("doc_id"), lit(BenchMod)) =!= 0)
    corpus
      .join(broadcast(benchSet), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit_grams"))
      .filter(col("n_hit_grams") > 0)
      .withColumn("overlap_pm",
        floor(lit(1000) * col("n_hit_grams") / col("n_grams")).cast("long"))
      .withColumn("flagged",
        (col("overlap_pm") >= FuzzyTauPm).cast("long"))
      .orderBy("doc_id")
  }

  private val decontamFuzzySql =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split(norm, ' ') AS w
       |  FROM (SELECT doc_id, ${TextAnalysis.normSqlDef} AS norm
       |        FROM documents) d),
       |g AS (
       |  SELECT doc_id, unnest(list_distinct($gramsSqlDuck)) AS gram
       |  FROM ws),
       |bset AS (SELECT DISTINCT gram FROM g WHERE doc_id % $BenchMod = 0),
       |c AS (SELECT doc_id, gram FROM g WHERE doc_id % $BenchMod <> 0),
       |agg AS (
       |  SELECT c.doc_id, COUNT(*) AS n_grams,
       |    SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
       |  FROM c LEFT JOIN bset b ON c.gram = b.gram
       |  GROUP BY c.doc_id)
       |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       |  CAST(n_hit AS BIGINT) AS n_hit_grams,
       |  CAST(floor(1000.0 * n_hit / n_grams) AS BIGINT) AS overlap_pm,
       |  CAST(CASE WHEN floor(1000.0 * n_hit / n_grams) >= $FuzzyTauPm
       |       THEN 1 ELSE 0 END AS BIGINT) AS flagged
       |FROM agg WHERE n_hit > 0 ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // tx_redact: denylist whole-word redaction — the PII-masking pipeline
  // shape (emails/SSNs/phone numbers in production; this synthetic
  // corpus has none, so the denylist targets terms that exist — the
  // MACHINERY is what's under test). Every term is masked to '#' via a
  // word-boundary regex (`\b` is ASCII-identical in Java regex and
  // DuckDB's RE2); per-doc counts come from regexp_extract_all before
  // replacement, and the md5 of the redacted text is the auditable
  // proof both engines produced byte-identical scrubbed output.
  // Denylist and SQL are generated from ONE Scala list — no drift.
  // -------------------------------------------------------------------
  private val denylist = Seq("customer", "key", "value")

  private def redact(spark: SparkSession, dir: String): DataFrame = {
    val redacted = denylist.foldLeft(TextAnalysis.normCol) {
      (c, t) => regexp_replace(c, s"\\b$t\\b", "#")
    }
    val counts = denylist.map(t =>
      size(regexp_extract_all(col("norm"), lit(s"\\b$t\\b"), lit(0))).cast("long"))
    docs(spark, dir)
      .withColumn("norm", TextAnalysis.normCol)
      .withColumn("redacted", redacted)
      .select(
        col("doc_id"),
        counts.reduce(_ + _).as("n_redacted"),
        length(col("redacted")).cast("long").as("chars_after"),
        md5(col("redacted")).as("fp"))
      .orderBy("doc_id")
  }

  private val redactSql = {
    // DuckDB regexp_replace needs the 'g' flag; literals are escape-free
    val redacted = denylist.foldLeft("norm") {
      (s, t) => s"regexp_replace($s, '\\b$t\\b', '#', 'g')"
    }
    val counts = denylist
      .map(t => s"CAST(len(regexp_extract_all(norm, '\\b$t\\b')) AS BIGINT)")
      .mkString("(", " + ", ")")
    s"""SELECT doc_id,
       |  $counts AS n_redacted,
       |  CAST(length($redacted) AS BIGINT) AS chars_after,
       |  md5($redacted) AS fp
       |FROM (SELECT doc_id, ${TextAnalysis.normSqlDef} AS norm FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // dd_source_cap: per-domain document caps — the anti-domination rule
  // every web-scale corpus applies (no single domain/source may
  // contribute more than N documents; keep the N "best"). Keep rule is
  // fully deterministic: rank by n_chars DESC, doc_id ASC inside each
  // source, keep rank ≤ Cap. One keyed exchange on `source` + one
  // partition-local sort; emitted as the per-source audit (total,
  // kept, kept bytes, best doc). At 100 TB the heavy-tail mega-domain
  // makes one reducer hot — pre-trim with a local (source,
  // scan-partition) rank ≤ Cap first (the two-stage idiom of
  // sim_knn_batch) so no reducer ever sees more than Cap×partitions
  // rows per source.
  // -------------------------------------------------------------------
  private val SourceCap = 10

  private def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n_chars").desc, col("doc_id").asc)
    docs(spark, dir)
      .withColumn("rk", row_number().over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("rk") <= SourceCap, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rk") <= SourceCap, col("n_chars"))).as("kept_chars"),
        min(when(col("rk") === 1, col("doc_id"))).as("best_doc"))
      .orderBy("source")
  }

  private val sourceCapSql =
    s"""WITH ranked AS (
       |  SELECT source, doc_id, n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY n_chars DESC, doc_id ASC) AS rk
       |  FROM documents)
       |SELECT source, COUNT(*) AS n_total,
       |  CAST(SUM(CASE WHEN rk <= $SourceCap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN rk <= $SourceCap THEN n_chars END) AS BIGINT) AS kept_chars,
       |  MIN(CASE WHEN rk = 1 THEN doc_id END) AS best_doc
       |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // tx_dup_ngram_rate: CORPUS-LEVEL n-gram duplication rate per source —
  // the diversity number behind "Deduplicating Training Data Makes
  // Language Models Better" (Lee et al.): what fraction of a source's
  // gram OCCURRENCES is text that also appears in at least one other
  // document? Pairwise near-dup (dd_*) finds the offending pairs; this
  // is the corpus-level health metric you trend per source per
  // snapshot to decide which source needs the expensive pass at all.
  //
  // Scale shape: one tokenize pass; both sides of the final join are
  // AGGREGATES of the occurrence stream — the document-frequency table
  // (distinct (gram, doc) → per-gram doc count) and the per-(gram,
  // source) occurrence counts — so the raw occurrence volume crosses
  // the wire once into each hash aggregate (map-side combining) and
  // the join moves only gram-keyed aggregate rows, never re-shuffling
  // text. Exact integer ppm output.
  // -------------------------------------------------------------------
  private def dupNgramRate(spark: SparkSession, dir: String): DataFrame = {
    val occ = TextAnalysis.normDocs(spark, dir)
      .select(col("doc_id"), col("source"),
        split(col("norm"), " ").as("w"))
      .select(col("doc_id"), col("source"),
        explode(expr(gramsExpr)).as("gram"))
    val docf = occ.select(col("gram"), col("doc_id")).distinct()
      .groupBy("gram").agg(count(lit(1)).as("n_docs"))
    val oc = occ.groupBy("gram", "source").agg(count(lit(1)).as("n_occ"))
    oc.join(docf, Seq("gram"))
      .groupBy("source")
      .agg(sum(col("n_occ")).as("n_grams"),
        sum(when(col("n_docs") >= 2, col("n_occ")).otherwise(0L))
          .as("n_dup_grams"))
      .select(col("source"), col("n_grams"), col("n_dup_grams"),
        expr("(1000000 * n_dup_grams) div n_grams").as("dup_ppm"))
      .orderBy("source")
  }

  private val dupNgramRateSql =
    s"""WITH d AS (
       |  SELECT doc_id, source, string_split(norm, ' ') AS w
       |  FROM (SELECT doc_id, source, ${TextAnalysis.normSqlDef} AS norm
       |        FROM documents) n),
       |occ AS (
       |  SELECT doc_id, source, unnest($gramsSqlDuck) AS gram FROM d),
       |docf AS (
       |  SELECT gram, COUNT(*) AS n_docs
       |  FROM (SELECT DISTINCT gram, doc_id FROM occ) u GROUP BY 1),
       |oc AS (
       |  SELECT gram, source, COUNT(*) AS n_occ FROM occ GROUP BY 1, 2)
       |SELECT source,
       |  CAST(SUM(n_occ) AS BIGINT) AS n_grams,
       |  CAST(SUM(CASE WHEN n_docs >= 2 THEN n_occ ELSE 0 END) AS BIGINT)
       |    AS n_dup_grams,
       |  CAST((1000000 * SUM(CASE WHEN n_docs >= 2 THEN n_occ ELSE 0 END))
       |    // SUM(n_occ) AS BIGINT) AS dup_ppm
       |FROM oc JOIN docf USING (gram)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // tx_span_corrupt: T5-STYLE SPAN CORRUPTION — the denoising-objective
  // preprocessing step (Raffel et al.): mask ~15% of the text in short
  // spans, replace each masked span with a numbered sentinel token.
  // Spans here are fixed 3-token blocks; the mask decision is a pure
  // function of (doc_id, block) through the portable hash — no RNG
  // state, reruns and both engines agree bit-for-bit — and sentinels
  // number 0,1,2,… in document order exactly like <extra_id_k>. The
  // gate row carries token/mask/span accounting and the md5 of the
  // corrupted sequence, so the oracle pins the REWRITTEN text, not
  // just the rates.
  //
  // Scale shape: tokenization and mask decisions are map-side; block
  // assembly is one exchange keyed (doc, block); sentinel numbering
  // is a running sum over the doc partition (blocks per doc, not
  // corpus-wide); reassembly is the same doc-keyed exchange. Nothing
  // broadcasts, nothing is corpus-global.
  // -------------------------------------------------------------------
  private val SpanLen = 3
  private val SpanPct = 15

  private def spanCorrupt(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), TextAnalysis.normCol.as("norm"))
      .filter(length(col("norm")) > 0)
      .select(col("doc_id"), posexplode(split(col("norm"), " "))
        .as(Seq("pos", "tok")))
      .withColumn("blk", expr(s"pos div $SpanLen"))
      .withColumn("masked",
        pmod(PortableHash.hashCol(concat(lit("span:"), col("doc_id"),
          lit(":"), col("blk"))), lit(100)) < SpanPct)
    val blocks = toks
      .groupBy(col("doc_id"), col("blk"), col("masked"))
      .agg(count(lit(1)).as("n_toks"),
        array_join(
          expr("transform(sort_array(collect_list(struct(pos, tok))), x -> x.tok)"),
          " ").as("blktext"))
    val byBlk = Window.partitionBy("doc_id").orderBy("blk")
    blocks
      .withColumn("k",
        sum(when(col("masked"), 1L).otherwise(0L)).over(byBlk))
      .withColumn("piece",
        when(col("masked"), concat(lit("<extra_id_"),
          (col("k") - 1).cast("string"), lit(">")))
          .otherwise(col("blktext")))
      .groupBy("doc_id")
      .agg(sum(col("n_toks")).as("n_tokens"),
        sum(when(col("masked"), col("n_toks")).otherwise(0L)).as("n_masked"),
        sum(when(col("masked"), 1L).otherwise(0L)).as("n_spans"),
        md5(array_join(
          expr("transform(sort_array(collect_list(struct(blk, piece))), x -> x.piece)"),
          " ")).as("corrupt_hash"))
      .orderBy("doc_id")
  }

  private val spanCorruptSql =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(norm, ' ') AS w
       |  FROM (SELECT doc_id, ${TextAnalysis.normSqlDef} AS norm
       |        FROM documents) n
       |  WHERE length(norm) > 0),
       |occ AS (
       |  SELECT doc_id, pos, w[CAST(pos + 1 AS BIGINT)] AS tok,
       |    pos // $SpanLen AS blk
       |  FROM (SELECT doc_id, w, unnest(range(0, len(w))) AS pos FROM d) x),
       |flagged AS (
       |  SELECT doc_id, pos, tok, blk,
       |    ${PortableHash.hashSql("'span:' || doc_id || ':' || blk")} % 100
       |      < $SpanPct AS masked
       |  FROM occ),
       |blocks AS (
       |  SELECT doc_id, blk, masked, COUNT(*) AS n_toks,
       |    string_agg(tok, ' ' ORDER BY pos) AS blktext
       |  FROM flagged GROUP BY 1, 2, 3),
       |ranked AS (
       |  SELECT doc_id, blk, masked, n_toks,
       |    CASE WHEN masked THEN '<extra_id_' ||
       |      (SUM(CASE WHEN masked THEN 1 ELSE 0 END)
       |        OVER (PARTITION BY doc_id ORDER BY blk
       |              ROWS UNBOUNDED PRECEDING) - 1) || '>'
       |    ELSE blktext END AS piece
       |  FROM blocks)
       |SELECT doc_id, CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN masked THEN n_toks ELSE 0 END) AS BIGINT)
       |    AS n_masked,
       |  CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
       |  md5(string_agg(piece, ' ' ORDER BY blk)) AS corrupt_hash
       |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("tx_span_corrupt", spanCorrupt, spanCorruptSql),
    Gate("tx_dup_ngram_rate", dupNgramRate, dupNgramRateSql),
    Gate("tx_contam_report", contamReport, contamReportSql),
    Gate("tx_decontam", decontam, decontamSql),
    Gate("tx_decontam_fuzzy", decontamFuzzy, decontamFuzzySql),
    Gate("tx_redact", redact, redactSql),
    Gate("dd_source_cap", sourceCap, sourceCapSql)
  )
}
