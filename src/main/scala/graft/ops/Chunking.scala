package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate

/** LLM training-data preparation: context-window chunking and
  * token-budget packing — the two reshape steps between "clean
  * documents" and "model-ready sequences".
  */
object Chunking {

  /** chunk width / stride (overlap = width − stride) in characters */
  private val Width = 200
  private val Stride = 160

  // -------------------------------------------------------------------
  // tx_chunk_stats: overlapping fixed-window chunking — each document
  // yields substring windows starting at 1, 1+stride, 1+2·stride, …
  // (40-char overlap preserves context across chunk boundaries). The
  // chunk starts are generated INSIDE the row (`sequence`) and
  // exploded to (doc, chunk) rows — generation is map-side, the only
  // shuffle is the per-doc reduction, and per-chunk work downstream
  // (embedding, hashing) would parallelize over rows, which is why
  // this explodes rather than keeping an array column.
  // -------------------------------------------------------------------
  private def chunkStats(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      // empty docs yield no chunks on BOTH engines: DuckDB's
      // range(1,1) is empty, but Spark's sequence(1,0) THROWS
      // (illegal boundaries) — filter before generating starts
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")), lit(Stride))).as("s"))
      .select(col("doc_id"),
        length(expr(s"substring(text, s, $Width)")).as("clen"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("clen")).as("chunk_chars"),
        min(col("clen")).as("tail_len"))
      .orderBy("doc_id")

  private val chunkStatsSql =
    s"""SELECT doc_id, COUNT(*) AS n_chunks,
       |  CAST(SUM(length(substring(text, s, $Width))) AS BIGINT) AS chunk_chars,
       |  CAST(MIN(length(substring(text, s, $Width))) AS BIGINT) AS tail_len
       |FROM (SELECT doc_id, text,
       |        unnest(range(1, length(text) + 1, $Stride)) AS s
       |      FROM documents WHERE length(text) > 0) t
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // tx_pack_bins: greedy sequence packing — documents are laid into
  // fixed 512-token bins in stable doc_id order, each doc assigned to
  // bin floor(prefix_tokens / 512). Packing is keyed BY LANGUAGE so
  // the running prefix sum is a per-key window, not a global
  // single-partition sort — the standard scale trick: shard first
  // (here: lang; in production: lang × shard-hash), pack within
  // shards. Token counts are the whitespace-token definition shared
  // with tx_stats.
  // -------------------------------------------------------------------
  private def packBins(spark: SparkSession, dir: String): DataFrame = {
    // token definition shared with tx_stats — literally the same
    // Column builders (TextAnalysis.normCol/tokensCol), not a copy
    val toks = TextAnalysis.tokensCol(TextAnalysis.normCol)
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"), col("doc_id"), toks.as("toks"))
      .withColumn("prefix", coalesce(sum(col("toks")).over(w), lit(0L)))
      .withColumn("bin", expr("prefix div 512"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("bin_tokens"))
      .orderBy("lang", "bin")
  }

  private val packBinsSql =
    s"""WITH d AS (
      |  SELECT lang, doc_id, ${TextAnalysis.tokensSql} AS toks
      |  FROM (SELECT lang, doc_id, ${TextAnalysis.normSqlDef} AS norm
      |        FROM documents) n),
      |p AS (
      |  SELECT lang, doc_id, toks,
      |    COALESCE(SUM(toks) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512
      |      AS bin
      |  FROM d)
      |SELECT lang, CAST(bin AS BIGINT) AS bin, COUNT(*) AS n_docs,
      |  CAST(SUM(toks) AS BIGINT) AS bin_tokens
      |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // tx_pack_attention: the ATTENTION-CONTAMINATION accounting for
  // packed sequences — the number that justifies block-diagonal
  // attention masks. Packing documents into shared context windows
  // (tx_pack_bins) makes naive causal attention see token pairs that
  // CROSS document boundaries: per bin, naive attention scores
  // bin_tokens² pairs while a block-diagonal mask allows only
  // Σ doc_tokens²; the difference is cross-document leakage (training
  // contamination if unmasked, wasted FLOPs if masked late). Exact
  // integers, same bin assignment as tx_pack_bins (shared window
  // logic), per-language rollup with the leak fraction in ppm.
  // -------------------------------------------------------------------
  private def packAttention(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokensCol(TextAnalysis.normCol)
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"), col("doc_id"), toks.as("toks"))
      .withColumn("prefix", coalesce(sum(col("toks")).over(w), lit(0L)))
      .withColumn("bin", expr("prefix div 512"))
      .groupBy("lang", "bin")
      .agg(sum(col("toks")).as("bin_tokens"),
        sum(col("toks") * col("toks")).as("doc_sq"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_bins"),
        sum(col("bin_tokens") * col("bin_tokens")).as("naive_pairs"),
        sum(col("doc_sq")).as("masked_pairs"))
      .select(col("lang"), col("n_bins"), col("naive_pairs"),
        col("masked_pairs"),
        expr("(1000 * (naive_pairs - masked_pairs)) div (naive_pairs div 1000)")
          .as("leak_ppm"))
      .orderBy("lang")
  }

  private val packAttentionSql =
    s"""WITH d AS (
       |  SELECT lang, doc_id, ${TextAnalysis.tokensSql} AS toks
       |  FROM (SELECT lang, doc_id, ${TextAnalysis.normSqlDef} AS norm
       |        FROM documents) n),
       |p AS (
       |  SELECT lang, doc_id, toks,
       |    COALESCE(SUM(toks) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512
       |      AS bin
       |  FROM d),
       |bins AS (
       |  SELECT lang, bin, CAST(SUM(toks) AS BIGINT) AS bin_tokens,
       |    CAST(SUM(toks * toks) AS BIGINT) AS doc_sq
       |  FROM p GROUP BY 1, 2)
       |SELECT lang, COUNT(*) AS n_bins,
       |  CAST(SUM(bin_tokens * bin_tokens) AS BIGINT) AS naive_pairs,
       |  CAST(SUM(doc_sq) AS BIGINT) AS masked_pairs,
       |  CAST((1000 * (SUM(bin_tokens * bin_tokens) - SUM(doc_sq))) //
       |       (SUM(bin_tokens * bin_tokens) // 1000) AS BIGINT) AS leak_ppm
       |FROM bins GROUP BY 1 ORDER BY 1""".stripMargin

  /** paragraph width in words for tx_para_dedup */
  private val ParaW = 16

  // -------------------------------------------------------------------
  // tx_para_dedup: corpus REWRITE by paragraph-level dedup — the
  // removal step of CCNet-style pipelines (Wenzek et al., CCNet;
  // Lee et al., "Deduplicating Training Data...") where dd_substring_dup
  // is only the audit: split each normalized document into word-aligned
  // 16-word paragraphs, keep ONLY the globally-first occurrence of each
  // distinct paragraph (first = smallest (doc_id, position)), and
  // reassemble every document from its surviving paragraphs in order.
  // The gate row per document carries the before/after paragraph counts
  // and the md5 of the reassembled text, so the oracle pins the cleaned
  // corpus byte-for-byte, not just the drop statistics.
  //
  // Scale shape: paragraph generation is map-side (explode inside the
  // row); the global first-occurrence decision is ONE exchange keyed on
  // the paragraph hash (a row_number window — rank-1 semantics, no
  // all-pairs, no broadcast: the winner set is as big as the corpus and
  // must never be collected); reassembly is ONE exchange back on
  // doc_id. Payload paragraphs cross the wire once per exchange, which
  // is the floor for a rewrite op. At 100 TB both keys are
  // high-cardinality and uniform (md5 / doc id) — no skew.
  // -------------------------------------------------------------------
  private def paraDedup(spark: SparkSession, dir: String): DataFrame = {
    val first = Window.partitionBy("h").orderBy("doc_id", "pos")
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), TextAnalysis.normCol.as("norm"))
      .filter(length(col("norm")) > 0)
      .select(col("doc_id"), split(col("norm"), " ").as("w"))
      .withColumn("pos",
        explode(sequence(lit(0L), expr(s"(size(w) - 1) div $ParaW"))))
      .select(col("doc_id"), col("pos"),
        expr(s"array_join(slice(w, CAST(pos*$ParaW + 1 AS INT), $ParaW), ' ')")
          .as("chunk"))
      .withColumn("h", md5(col("chunk")))
      .withColumn("kept", row_number().over(first) === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"),
        sum(col("kept").cast("long")).as("n_kept"),
        sort_array(collect_list(struct(col("pos"), col("chunk"), col("kept"))))
          .as("cs"))
      .select(col("doc_id"), col("n_paras"), col("n_kept"),
        md5(array_join(expr("transform(filter(cs, x -> x.kept), x -> x.chunk)"),
          " ")).as("clean_hash"))
      .orderBy("doc_id")
  }

  private val paraDedupSql =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(norm, ' ') AS w
       |  FROM (SELECT doc_id, ${TextAnalysis.normSqlDef} AS norm
       |        FROM documents) n
       |  WHERE length(norm) > 0),
       |occ AS (
       |  SELECT doc_id, pos,
       |    array_to_string(w[CAST(pos*$ParaW + 1 AS BIGINT):
       |                      CAST(pos*$ParaW + $ParaW AS BIGINT)], ' ') AS chunk
       |  FROM (SELECT doc_id, w,
       |          unnest(range(0, (len(w) - 1) // $ParaW + 1)) AS pos
       |        FROM d) x),
       |flagged AS (
       |  SELECT doc_id, pos, chunk,
       |    ROW_NUMBER() OVER (PARTITION BY md5(chunk)
       |                       ORDER BY doc_id, pos) = 1 AS kept
       |  FROM occ)
       |SELECT doc_id, COUNT(*) AS n_paras,
       |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  md5(COALESCE(string_agg(CASE WHEN kept THEN chunk END, ' '
       |                          ORDER BY pos), '')) AS clean_hash
       |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** boilerplate doc-frequency threshold for tx_boilerplate_rm */
  private val BoilerDf = 2

  // -------------------------------------------------------------------
  // tx_boilerplate_rm: frequency-threshold boilerplate REMOVAL — the
  // RefinedWeb/CCNet companion of tx_para_dedup with the opposite
  // retention rule: a paragraph whose DISTINCT-DOCUMENT frequency is
  // ≥ BoilerDf is boilerplate (headers, footers, navigation chrome —
  // text that repeats across documents) and is removed EVERYWHERE,
  // including its first occurrence; tx_para_dedup instead keeps
  // exactly the first occurrence. Shares the 16-word paragraph
  // substrate and the md5-pinned byte-faithful reassembly.
  //
  // Scale shape: same floor as the dedup rewrite — paragraph
  // generation is map-side; the doc-frequency decision is ONE exchange
  // keyed on the paragraph hash (distinct doc-set size via a window
  // collect_set over the hash partition — never a broadcast: the
  // boilerplate table is corpus-sized in the worst case); reassembly
  // is ONE exchange back on doc_id. Keys are md5 / doc id —
  // high-cardinality, no skew.
  // -------------------------------------------------------------------
  private def boilerplateRm(spark: SparkSession, dir: String): DataFrame = {
    val byHash = Window.partitionBy("h")
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), TextAnalysis.normCol.as("norm"))
      .filter(length(col("norm")) > 0)
      .select(col("doc_id"), split(col("norm"), " ").as("w"))
      .withColumn("pos",
        explode(sequence(lit(0L), expr(s"(size(w) - 1) div $ParaW"))))
      .select(col("doc_id"), col("pos"),
        expr(s"array_join(slice(w, CAST(pos*$ParaW + 1 AS INT), $ParaW), ' ')")
          .as("chunk"))
      .withColumn("h", md5(col("chunk")))
      .withColumn("kept",
        size(collect_set(col("doc_id")).over(byHash)) < BoilerDf)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"),
        sum(col("kept").cast("long")).as("n_kept"),
        sort_array(collect_list(struct(col("pos"), col("chunk"), col("kept"))))
          .as("cs"))
      .select(col("doc_id"), col("n_paras"), col("n_kept"),
        md5(array_join(expr("transform(filter(cs, x -> x.kept), x -> x.chunk)"),
          " ")).as("clean_hash"))
      .orderBy("doc_id")
  }

  private val boilerplateRmSql =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(norm, ' ') AS w
       |  FROM (SELECT doc_id, ${TextAnalysis.normSqlDef} AS norm
       |        FROM documents) n
       |  WHERE length(norm) > 0),
       |occ AS (
       |  SELECT doc_id, pos,
       |    array_to_string(w[CAST(pos*$ParaW + 1 AS BIGINT):
       |                      CAST(pos*$ParaW + $ParaW AS BIGINT)], ' ') AS chunk
       |  FROM (SELECT doc_id, w,
       |          unnest(range(0, (len(w) - 1) // $ParaW + 1)) AS pos
       |        FROM d) x),
       |freq AS (
       |  SELECT md5(chunk) AS h, COUNT(DISTINCT doc_id) AS df
       |  FROM occ GROUP BY 1),
       |flagged AS (
       |  SELECT doc_id, pos, chunk, df < $BoilerDf AS kept
       |  FROM occ JOIN freq ON md5(chunk) = h)
       |SELECT doc_id, COUNT(*) AS n_paras,
       |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  md5(COALESCE(string_agg(CASE WHEN kept THEN chunk END, ' '
       |                          ORDER BY pos), '')) AS clean_hash
       |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // dd_cdc_chunks: CONTENT-DEFINED CHUNKING (the Rabin/LBFS family —
  // Muthitacharoen et al., SOSP'01) — the SHIFT-ROBUST dedup unit the
  // fixed units lack. tx_para_dedup cuts every 16 words and
  // tx_chunk_stats every 200 chars, so inserting one word near a
  // document's head REWRITES every downstream unit and dedup misses
  // everything after the edit; CDC instead cuts where the CONTENT
  // says to — at positions whose rolling 8-gram hash ≡ 0 (mod 32) —
  // so an edit only disturbs the one or two chunks it touches and
  // every later boundary re-synchronizes (expected chunk ≈ 32 chars;
  // the CdcSpec prefix-insertion test pins the property). Emitted per
  // doc: chunk count and how many of its distinct chunks also appear
  // in ≥1 other document — the storage/dedup win CDC exists to find.
  //
  // Scale shape: chunking is per-row array HOFs (no explode until the
  // chunk table, whose rows are the PRODUCT — they feed the dedup
  // exchange); cross-doc frequency is ONE exchange keyed on the chunk
  // hash, and only 60-bit hashes move — never chunk text. The same
  // repartition barrier as tx_winnow_fp keeps `norm` computed once.
  // -------------------------------------------------------------------
  private val CdcMod = 32

  private def cdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcFrame(spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("norm")))

  /** The CDC pipeline over any (doc_id, norm) frame — exposed so
    * TextFuzzSpec can differential-test cut placement and dup counting
    * on adversarial short/repetitive strings.
    */
  private[graft] def cdcFrame(docsNorm: DataFrame): DataFrame = {
    val chunkTbl = docsNorm
      .filter(length(col("norm")) > 0)
      .repartition(col("doc_id"))
      // one-pass native windows hash (identical values to the former
      // per-position transform lambda — Hash60Spec pins it): the
      // per-gram md5 was the query's per-task hotspot (guide §4)
      .select(col("doc_id"), col("norm"),
        graft.functions.GraftFunctions.hash60Windows(col("norm"), 8)
          .as("hs"))
      .select(col("doc_id"), col("norm"), expr(
        s"""concat(array(CAST(1 AS BIGINT)),
           |  filter(sequence(1, size(hs)),
           |    p -> p > 1 AND element_at(hs, p) % $CdcMod = 0))"""
          .stripMargin).as("cuts"))
      .select(col("doc_id"), col("norm"), col("cuts"), expr(
        """concat(slice(cuts, 2, size(cuts) - 1),
          |  array(CAST(length(norm) + 1 AS BIGINT)))""".stripMargin)
        .as("ends"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(cuts)),
          |  i -> md5(substring(norm, CAST(element_at(cuts, i) AS INT),
          |    CAST(element_at(ends, i) - element_at(cuts, i) AS INT))))"""
          .stripMargin)).as("ch"))
    // ONE exchange consumes the expensive per-gram hash pipeline: the
    // (doc, chunk) multiplicity aggregate. Everything downstream
    // (total count, cross-doc frequency window, dup rollup) runs over
    // that 30×-smaller table — the original two-consumer formulation
    // recomputed every md5 twice and benched 3.9 s at sf0.1.
    chunkTbl.groupBy("doc_id", "ch")
      .agg(count(lit(1)).as("m"))
      .withColumn("docs_with",
        count(lit(1)).over(Window.partitionBy("ch")))
      .groupBy("doc_id")
      .agg(sum(col("m")).as("n_chunks"),
        sum((col("docs_with") >= 2).cast("long")).as("dup_chunks"))
      .orderBy("doc_id")
  }

  private val cdcChunksSql = {
    val phash = graft.ops.PortableHash.hashSql("substring(norm, i, 8)")
    s"""WITH nd AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
       |    AS norm
       |  FROM documents
       |  WHERE length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) > 0),
       |h AS (SELECT doc_id, norm,
       |    list_transform(range(1, greatest(length(norm) - 7, 1) + 1),
       |      i -> $phash) AS hs
       |  FROM nd),
       |cu AS (SELECT doc_id, norm,
       |    list_concat([CAST(1 AS BIGINT)],
       |      list_filter(range(1, len(hs) + 1),
       |        p -> p > 1 AND hs[p] % $CdcMod = 0)) AS cuts
       |  FROM h),
       |ce AS (SELECT doc_id, norm, cuts,
       |    list_concat(cuts[2:], [CAST(length(norm) + 1 AS BIGINT)]) AS ends
       |  FROM cu),
       |chunks AS (SELECT doc_id,
       |    unnest(list_transform(range(1, len(cuts) + 1),
       |      i -> md5(substring(norm, CAST(cuts[i] AS INT),
       |        CAST(ends[i] - cuts[i] AS INT))))) AS ch
       |  FROM ce),
       |per_doc AS (SELECT doc_id, COUNT(*) AS n_chunks FROM chunks GROUP BY 1),
       |docch AS (SELECT DISTINCT doc_id, ch FROM chunks),
       |freq AS (SELECT ch, COUNT(*) AS docs_with FROM docch GROUP BY 1),
       |shared AS (SELECT d.doc_id, COUNT(*) AS dup_chunks
       |  FROM docch d JOIN freq f ON d.ch = f.ch
       |  WHERE f.docs_with >= 2 GROUP BY 1)
       |SELECT p.doc_id, CAST(p.n_chunks AS BIGINT) AS n_chunks,
       |  CAST(coalesce(s.dup_chunks, 0) AS BIGINT) AS dup_chunks
       |FROM per_doc p LEFT JOIN shared s ON p.doc_id = s.doc_id
       |ORDER BY p.doc_id""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("dd_cdc_chunks", cdcChunks, cdcChunksSql),
    Gate("tx_chunk_stats", chunkStats, chunkStatsSql),
    Gate("tx_pack_bins", packBins, packBinsSql),
    Gate("tx_pack_attention", packAttention, packAttentionSql),
    Gate("tx_para_dedup", paraDedup, paraDedupSql),
    Gate("tx_boilerplate_rm", boilerplateRm, boilerplateRmSql)
  )
}
