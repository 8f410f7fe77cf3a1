package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate

/** Multimodal-column plumbing: opaque `binary` payloads + typed
  * metadata, with a REAL pure-JVM decode step ([[ImageHeaders]] parses
  * PNG IHDR / BMP headers at their fixed offsets — no codec libraries
  * needed) and the Spark-side machinery — schema, batch iteration,
  * partition shape, typed Dataset encoders — real and tested.
  *
  * The testdata has no binary column, so payloads are manufactured:
  * mm_metadata/mm_exact_dedup use raw UTF-8 bytes of `documents.text`;
  * mm_decode_stats wraps those bytes in real PNG/BMP containers whose
  * header fields derive deterministically from (doc_id, length) so the
  * DuckDB oracle can replay the generator while Spark replays the
  * DECODER — a differential test of the encode/decode pair. At 100 TB
  * the payload column is real image/audio bytes read from parquet and
  * everything downstream is unchanged.
  *
  * Scale notes: decode runs inside `mapPartitions` (the Scala analogue
  * of `mapInPandas` batch UDFs) — per-partition batching, no
  * per-row interpreter round trips, no shuffle; metadata extraction is
  * pure Column ops.
  */
object Multimodal {

  /** per-asset record produced by the header decoder */
  final case class DecodedAsset(
      doc_id: Long,
      fmt: String,
      n_bytes: Long,
      width: Long,
      height: Long,
      bit_depth: Long)

  private def withPayload(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"))

  // -------------------------------------------------------------------
  // mm_metadata: typed metadata over the opaque binary column — byte
  // length + content digest, the two fields every asset catalog needs
  // before any decode happens (dedup keys, size stats, integrity).
  // Pure Column ops → oracle-backed in DuckDB over the same
  // manufactured payload. Decoded dimensions live in mm_decode_stats /
  // mm_binary_source, which parse real container headers.
  // -------------------------------------------------------------------
  private def metadata(spark: SparkSession, dir: String): DataFrame =
    withPayload(spark, dir)
      .select(
        col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        sha2(col("payload"), 256).as("digest"))
      .orderBy("doc_id")

  private val metadataSql =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  sha256(text) AS digest
      |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // mm_decode_stats: the batch-decode path, de-stubbed. The fixture
  // step wraps each document's bytes in a REAL container — even doc_id
  // → PNG (sig + IHDR + tEXt(body) + IEND, CRC32-correct), odd → BMP
  // (file header + BITMAPINFOHEADER + body) — with width/height/depth
  // derived deterministically from (doc_id, byte length). The decode
  // step then parses the MAGIC BYTES and HEADER OFFSETS, never the
  // generator formulas: Spark's side of the gate replays the decoder,
  // DuckDB's side replays the generator, and the hash check proves the
  // round trip (including big-endian PNG vs little-endian BMP fields).
  // Both steps run per-partition inside the mapPartitions seam — the
  // operator shape of a real ImageIO/ffmpeg pipeline at 100 TB: no
  // shuffle, no driver involvement, payload bytes never leave the
  // partition (only the 6-field typed records flow into the aggregate).
  // -------------------------------------------------------------------
  /** deterministic container fixture for (doc_id, body): even ids are
    * PNG (depth 8), odd are BMP (24 bpp); dimensions bounded ≤ 512 so
    * the gate exercises >255 values through both endiannesses. Shared
    * by mm_decode_stats (payload column) and mm_binary_source (file
    * per asset); the DuckDB oracle replays exactly these formulas.
    */
  private def assetBytes(id: Long, body: Array[Byte]): Array[Byte] = {
    val w = (4 + id % 509).toInt
    val h = 4 + body.length % 509
    if (id % 2 == 0) ImageHeaders.png(w, h, 8, body)
    else ImageHeaders.bmp(w, h, 24, body)
  }

  private def decodeStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val assets: Dataset[DecodedAsset] = spark.read
      .parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { batch =>
        batch.map { case (id, text) =>
          val payload = assetBytes(id,
            text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          // the actual decode: magic bytes + fixed header offsets
          val (fmt, dw, dh, depth) = ImageHeaders.decodeHeader(payload)
          DecodedAsset(id, fmt, payload.length.toLong, dw.toLong, dh.toLong,
            depth.toLong)
        }
      }
    assets.toDF()
      .groupBy(col("fmt"), expr("n_bytes div 256").as("size_bucket"))
      .agg(
        count(lit(1)).as("n_assets"),
        sum(col("width")).as("sum_width"),
        sum(col("height")).as("sum_height"),
        max(col("bit_depth")).as("bit_depth"))
      .orderBy("fmt", "size_bucket")
  }

  // -------------------------------------------------------------------
  // mm_binary_source: FILE-PER-ASSET ingest via Spark's binaryFile
  // source — the shape a real image corpus actually arrives in (a
  // directory of blobs, not a parquet column). A deterministic ~2%
  // keyed-hash sample of documents is materialized as real .img files
  // once per documents generation (foreachPartition writer, a
  // FixtureCache.layout; on a cluster the writer targets shared
  // storage — the code is identical);
  // `spark.read.format("binaryFile")` lists and reads them in
  // parallel, doc_id recovers from the file NAME, and the headers
  // decode through the same fixed-offset codec as mm_decode_stats.
  // sum_doc_id pins the filename→id recovery; the rest pins the
  // content round trip. Oracle replays the sample predicate (portable
  // md5 hash) + generator formulas from the documents table.
  // -------------------------------------------------------------------
  private val BinarySampleMod = 50L

  private def binaryAssetDir(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    // keyed by the sample modulus and payload codec shape, so a constant
    // change rebuilds the asset dir (stale-fixture guard)
    FixtureCache.layout(spark, "mm_assets", dir, Seq("documents.parquet"),
        "mod" -> BinarySampleMod, "codec" -> "png8/bmp24;dim509") { pathStr =>
      new java.io.File(pathStr).mkdirs()
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(pmod(PortableHash.hashCol(concat(lit("mmbin:"), col("doc_id"))),
          lit(BinarySampleMod)) === 0)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .foreachPartition { it: Iterator[(Long, String)] =>
          it.foreach { case (id, text) =>
            val bytes = assetBytes(id,
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$pathStr/$id.img"), bytes)
          }
        }
    }
  }

  private def binarySource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val assets = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.img")
      .load(binaryAssetDir(spark, dir))
      .select(col("path"), col("length"), col("content"))
      .as[(String, Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (p, len, bytes) =>
          val id = p.substring(p.lastIndexOf('/') + 1)
            .stripSuffix(".img").toLong
          val (fmt, w, h, depth) = ImageHeaders.decodeHeader(bytes)
          DecodedAsset(id, fmt, len, w.toLong, h.toLong, depth.toLong)
        }
      }
    assets.toDF()
      .groupBy("fmt")
      .agg(
        count(lit(1)).as("n_assets"),
        sum(col("width")).as("sum_width"),
        sum(col("height")).as("sum_height"),
        sum(col("n_bytes")).as("sum_bytes"),
        sum(col("doc_id")).as("sum_doc_id"))
      .orderBy("fmt")
  }

  private val binarySourceSql =
    s"""WITH sampled AS (
       |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS len
       |  FROM documents
       |  WHERE ${PortableHash.hashSql("'mmbin:' || CAST(doc_id AS VARCHAR)")}
       |        % $BinarySampleMod = 0),
       |assets AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
       |    CASE WHEN doc_id % 2 = 0 THEN ${ImageHeaders.PngOverhead}
       |         ELSE ${ImageHeaders.BmpOverhead} END + len AS n_bytes,
       |    4 + doc_id % 509 AS width,
       |    4 + len % 509 AS height
       |  FROM sampled)
       |SELECT fmt, COUNT(*) AS n_assets,
       |  CAST(SUM(width) AS BIGINT) AS sum_width,
       |  CAST(SUM(height) AS BIGINT) AS sum_height,
       |  CAST(SUM(n_bytes) AS BIGINT) AS sum_bytes,
       |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
       |FROM assets GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // mm_frame_sample: frame sampling over an opaque payload — the video
  // path's plumbing. The payload is windowed into fixed-size "frames"
  // (here 64-byte windows of the manufactured payload; a real pipeline
  // gets frame boundaries from the container format inside the decode
  // stub) and every 4th frame is emitted with its digest. The operator
  // shape that matters at 100 TB: a GENERATOR with bounded fan-out
  // (explode of a computed index sequence — rows ∝ payload size /
  // stride, never a full decode of unsampled frames), embarrassingly
  // parallel, no shuffle before the sink. Oracle-backed (ASCII text ⇒
  // byte windows == char windows in both engines).
  // -------------------------------------------------------------------
  private val FrameLen = 64
  private val FrameStride = 4

  private def frameSample(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      // last frame index, floored at 0 (integer `div`, not double `/`)
      .withColumn("last_f",
        greatest(lit(0L), expr(s"(length(text) - 1) div $FrameLen")))
      .withColumn("fidx",
        explode(sequence(lit(0L), col("last_f"), lit(FrameStride.toLong))))
      .select(col("doc_id"), col("fidx"),
        md5(substring(col("text"),
          (col("fidx") * FrameLen + 1).cast("int"), lit(FrameLen))).as("frame_digest"))
      .orderBy("doc_id", "fidx")

  private val frameSampleSql =
    s"""SELECT doc_id, CAST(fidx AS BIGINT) AS fidx,
       |  md5(substring(text, CAST(fidx * $FrameLen + 1 AS INT), $FrameLen)) AS frame_digest
       |FROM (
       |  SELECT doc_id, text,
       |    unnest(range(0, greatest((length(text) - 1) // $FrameLen, 0) + 1, $FrameStride)) AS fidx
       |  FROM documents)
       |ORDER BY doc_id, fidx""".stripMargin

  // -------------------------------------------------------------------
  // mm_resize_phash: the RESIZE + feature-extraction step of the image
  // pipeline, on REAL pixels. The fixture encodes each document as a
  // renderable 24-bpp grayscale BMP whose dimensions and luminance
  // derive from closed-form formulas of (doc_id, byte length); the
  // operator then runs the actual pipeline a thumbnailer runs —
  // decode the pixel array (bottom-up rows, 4-byte padding, data
  // offset from the header), nearest-neighbor resize to 8×8, and the
  // average-hash (aHash): 64 bits, one per thumbnail pixel, set when
  // the pixel is ≥ the thumbnail mean (in exact integers: 64·v ≥ Σv).
  // aHash is the standard perceptual near-dup key — images landing in
  // the same code are visual duplicates, so downstream dedup is the
  // same groupBy-digest shape as mm_exact_dedup but robust to
  // re-encoding/rescaling. Spark replays DECODE→RESIZE→HASH over the
  // real bytes; the DuckDB oracle replays the GENERATOR formulas
  // sampled at the same grid — agreement proves the pixel round trip
  // (row order, padding, offsets) AND the resize arithmetic. Scale
  // shape: one mapPartitions pass, pixels never shuffle, output is
  // one 72-byte row per image.
  // -------------------------------------------------------------------
  /** thumbnail edge and fixture-dimension modulus for mm_resize_phash:
    * w = 4 + id % 125, h = 4 + len % 125, luminance(x,y) =
    * (7x + 13y + 31·id) mod 256 — small enough that the per-image
    * pixel buffer stays ≤ ~49 KB, large enough that every thumbnail
    * samples a genuine sub-grid.
    */
  private val ThumbEdge = 8
  private val DimMod = 125L

  /** per-image output of the resize/perceptual-hash pass */
  final case class PHashRow(
      doc_id: Long, w: Long, h: Long, px_sum: Long, ahash: String)

  private def resizePhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val len = text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
          val w = (4 + id % DimMod).toInt
          val h = (4 + len % DimMod).toInt
          val img = ImageHeaders.bmpGray(w, h,
            (x, y) => ((7L * x + 13L * y + 31L * id) % 256L).toInt)
          // the actual decode: header offsets, bottom-up rows, padding
          val (dw, dh, px) = ImageHeaders.decodeBmpPixels(img)
          // nearest-neighbor resize to ThumbEdge × ThumbEdge
          val samples = Array.tabulate(ThumbEdge * ThumbEdge) { i =>
            val gy = i / ThumbEdge; val gx = i % ThumbEdge
            px(gx * dw / ThumbEdge, gy * dh / ThumbEdge)
          }
          val total = samples.foldLeft(0L)(_ + _)
          val bits = samples.map(v =>
            if (64L * v >= total) '1' else '0').mkString
          PHashRow(id, dw.toLong, dh.toLong, total, bits)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  private val resizePhashSql =
    s"""WITH dims AS (
       |  SELECT doc_id, 4 + doc_id % $DimMod AS w,
       |    4 + CAST(octet_length(encode(text)) AS BIGINT) % $DimMod AS h
       |  FROM documents),
       |px AS (
       |  SELECT doc_id, w, h, gy, gx,
       |    (7 * ((gx * w) // $ThumbEdge) + 13 * ((gy * h) // $ThumbEdge)
       |      + 31 * doc_id) % 256 AS v
       |  FROM dims, range(0, $ThumbEdge) t1(gy), range(0, $ThumbEdge) t2(gx)),
       |sums AS (SELECT doc_id, SUM(v) AS px_sum FROM px GROUP BY 1)
       |SELECT p.doc_id, CAST(MIN(p.w) AS BIGINT) AS w,
       |  CAST(MIN(p.h) AS BIGINT) AS h,
       |  CAST(MIN(s.px_sum) AS BIGINT) AS px_sum,
       |  string_agg(CASE WHEN 64 * p.v >= s.px_sum THEN '1' ELSE '0' END, ''
       |             ORDER BY p.gy, p.gx) AS ahash
       |FROM px p JOIN sums s USING (doc_id)
       |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // mm_scene_cuts: SCENE-CHANGE DETECTION — the temporal half of the
  // video path (mm_frame_sample is the spatial/sampling half): decode
  // every frame, reduce it to a luminance mean, and flag a cut wherever
  // consecutive means jump by ≥ the threshold — the shot-boundary
  // primitive behind keyframe extraction and per-scene captioning.
  // The fixture gives each document 8–12 REAL 8×8 BMP frames whose
  // luminance formula shifts regime every 3rd frame, so genuine cuts
  // exist; Spark decodes every frame through the pixel codec and
  // walks the temporal diff INSIDE one mapPartitions pass (frames
  // never shuffle; one 32-byte row per asset flows out), while the
  // oracle replays the generator formula over the full frame×pixel
  // grid — agreement proves the decode AND the temporal walk.
  // -------------------------------------------------------------------
  private final val SceneCutJump = 16L

  /** per-asset output of the scene-cut pass */
  final case class SceneRow(doc_id: Long, n_frames: Long, n_cuts: Long,
      max_jump: Long)

  private def sceneCuts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val nf = (8 + id % 5).toInt
          var prevMean = 0L
          var cuts = 0L
          var maxJump = 0L
          var f = 0
          while (f < nf) {
            val shift = 91L * (f / 3)
            val img = ImageHeaders.bmpGray(8, 8,
              (x, y) => ((7L * x + 13L * y + 31L * id + shift) % 256L).toInt)
            val (dw, dh, px) = ImageHeaders.decodeBmpPixels(img)
            var s = 0L
            var y = 0
            while (y < dh) {
              var x = 0
              while (x < dw) { s += px(x, y); x += 1 }
              y += 1
            }
            val mean = s / 64L
            if (f > 0) {
              val j = math.abs(mean - prevMean)
              if (j > maxJump) maxJump = j
              if (j >= SceneCutJump) cuts += 1
            }
            prevMean = mean
            f += 1
          }
          SceneRow(id, nf.toLong, cuts, maxJump)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  private val sceneCutsSql =
    s"""WITH dims AS (SELECT doc_id, 8 + doc_id % 5 AS nf FROM documents),
       |fr AS (SELECT doc_id, unnest(range(0, nf)) AS f FROM dims),
       |px AS (
       |  SELECT doc_id, f,
       |    (7 * x + 13 * y + 31 * doc_id + 91 * (f // 3)) % 256 AS v
       |  FROM fr, range(0, 8) t1(x), range(0, 8) t2(y)),
       |m AS (SELECT doc_id, f, SUM(v) // 64 AS mean FROM px GROUP BY 1, 2),
       |d AS (SELECT doc_id, f, mean,
       |    lag(mean) OVER (PARTITION BY doc_id ORDER BY f) AS pm
       |  FROM m)
       |SELECT doc_id, CAST(MAX(f) + 1 AS BIGINT) AS n_frames,
       |  CAST(SUM(CASE WHEN pm IS NOT NULL AND abs(mean - pm) >= $SceneCutJump
       |            THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
       |  CAST(COALESCE(MAX(CASE WHEN pm IS NOT NULL
       |            THEN abs(mean - pm) END), 0) AS BIGINT) AS max_jump
       |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // mm_audio_resample: SAMPLE-RATE CONVERSION — decimation by 4 with a
  // box pre-filter, the downsampling step every audio featurizer runs
  // before a model that expects a fixed rate. Each output frame is the
  // SUM of its 4-sample group (an unnormalized box filter: summing
  // avoids the cross-engine negative-integer-division trap a mean
  // would hit, and peak/zero-crossing/energy read identically off the
  // scaled signal). The gate pins the frame indexing, the tail frame
  // (a partial group), and the rate bookkeeping (rate div 4) — the
  // places real resamplers go wrong. Same one-pass mapPartitions
  // shape as mm_audio_stats: decode + decimate + featurize without
  // the PCM ever leaving the task; the oracle replays the generator
  // formula grouped by i div 4.
  // -------------------------------------------------------------------
  /** per-asset output of the decimation pass */
  final case class ResampleRow(doc_id: Long, out_rate: Long, n_frames: Long,
      peak_ds: Long, zero_crossings_ds: Long, energy_ds: Long)

  private def audioResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val len = text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
          val n = (64 + len % AudioNMod).toInt
          val rate = (8000 + (id % 4) * 4000).toInt
          val samples = Array.tabulate(n)(i =>
            (((17L * i + 31L * id) % AudioAmp) - 2000L).toShort)
          val pcm = AudioWav.decode(AudioWav.wav(rate, samples))
          val nf = (pcm.nSamples + 3) / 4
          var peak = 0L; var zc = 0L; var energy = 0L
          var prev = 0L; var j = 0
          while (j < nf) {
            var g = 0L
            var i = 4 * j
            val hi = math.min(4 * j + 4, pcm.nSamples)
            while (i < hi) { g += pcm.sample(i); i += 1 }
            if (math.abs(g) > peak) peak = math.abs(g)
            if (j > 0 && ((prev < 0) != (g < 0))) zc += 1
            energy += g * g
            prev = g
            j += 1
          }
          ResampleRow(id, pcm.sampleRate.toLong / 4, nf.toLong,
            peak, zc, energy)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  private val audioResampleSql =
    s"""WITH dims AS (
       |  SELECT doc_id,
       |    64 + CAST(octet_length(encode(text)) AS BIGINT) % $AudioNMod AS n,
       |    8000 + (doc_id % 4) * 4000 AS sample_rate
       |  FROM documents),
       |idx AS (
       |  SELECT doc_id, unnest(range(0, n)) AS i FROM dims),
       |s AS (
       |  SELECT doc_id, i // 4 AS j,
       |    ((17 * i + 31 * doc_id) % $AudioAmp) - 2000 AS v
       |  FROM idx),
       |frames AS (
       |  SELECT doc_id, j, SUM(v) AS g FROM s GROUP BY 1, 2),
       |feat AS (
       |  SELECT doc_id, j, g,
       |    lag(g) OVER (PARTITION BY doc_id ORDER BY j) AS pg
       |  FROM frames)
       |SELECT f.doc_id,
       |  CAST(MIN(d.sample_rate) // 4 AS BIGINT) AS out_rate,
       |  CAST((MIN(d.n) + 3) // 4 AS BIGINT) AS n_frames,
       |  CAST(MAX(abs(f.g)) AS BIGINT) AS peak_ds,
       |  CAST(SUM(CASE WHEN f.pg IS NOT NULL
       |    AND (f.pg < 0) <> (f.g < 0) THEN 1 ELSE 0 END) AS BIGINT)
       |    AS zero_crossings_ds,
       |  CAST(SUM(f.g * f.g) AS BIGINT) AS energy_ds
       |FROM feat f JOIN dims d USING (doc_id)
       |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // mm_lum_hist: per-image LUMINANCE HISTOGRAM over the FULL decoded
  // pixel array — the exposure/contrast audit a visual-quality filter
  // runs before training (flat histograms = synthetic fills, collapsed
  // ones = over/under-exposure), and the one image feature that needs
  // every pixel rather than the 64-sample thumbnail. Four equal
  // 64-value buckets (v div 64) in exact integers. Spark decodes the
  // real BMP bytes (offsets, bottom-up rows, padding) and folds the
  // histogram inside the same mapPartitions pass — pixels never leave
  // the task; output is one 56-byte row per image. The DuckDB oracle
  // replays the generator formula over the full w×h grid, so
  // agreement proves the complete pixel walk, not a sampled one.
  // -------------------------------------------------------------------
  /** per-image output of the full-pixel histogram pass */
  final case class LumHistRow(
      doc_id: Long, w: Long, h: Long, n_px: Long,
      b0: Long, b1: Long, b2: Long, b3: Long)

  private def lumHist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val len = text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
          val w = (4 + id % DimMod).toInt
          val h = (4 + len % DimMod).toInt
          val img = ImageHeaders.bmpGray(w, h,
            (x, y) => ((7L * x + 13L * y + 31L * id) % 256L).toInt)
          val (dw, dh, px) = ImageHeaders.decodeBmpPixels(img)
          val buckets = new Array[Long](4)
          var y = 0
          while (y < dh) {
            var x = 0
            while (x < dw) {
              buckets(px(x, y) / 64) += 1L
              x += 1
            }
            y += 1
          }
          LumHistRow(id, dw.toLong, dh.toLong, dw.toLong * dh,
            buckets(0), buckets(1), buckets(2), buckets(3))
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  private val lumHistSql =
    s"""WITH dims AS (
       |  SELECT doc_id, 4 + doc_id % $DimMod AS w,
       |    4 + CAST(octet_length(encode(text)) AS BIGINT) % $DimMod AS h
       |  FROM documents),
       |px AS (
       |  SELECT doc_id, w, h,
       |    (7 * x + 13 * y + 31 * doc_id) % 256 AS v
       |  FROM (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims) gx,
       |    LATERAL (SELECT unnest(range(0, gx.h)) AS y) gy)
       |SELECT doc_id, CAST(MIN(w) AS BIGINT) AS w,
       |  CAST(MIN(h) AS BIGINT) AS h, COUNT(*) AS n_px,
       |  CAST(SUM(CASE WHEN v // 64 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
       |  CAST(SUM(CASE WHEN v // 64 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
       |  CAST(SUM(CASE WHEN v // 64 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
       |  CAST(SUM(CASE WHEN v // 64 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3
       |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // mm_grad_energy: per-image HORIZONTAL GRADIENT energy over the full
  // decoded pixel array — the sharpness/blur proxy a visual-quality
  // filter runs next to the exposure histogram (near-zero gradient
  // energy = synthetic fill or heavy blur; a spiky max = compression
  // artifacts or hard seams). Exact integers: per neighboring pixel
  // pair d = |v(x+1,y) − v(x,y)|, emitting pair count, edge count
  // (d > 32), total and max gradient. Spark decodes the REAL BMP bytes
  // and folds the metric inside the same mapPartitions pass (pixels
  // never leave the task — one 40-byte row per image out); the oracle
  // replays the generator formula over the (w−1)×h pair grid, so
  // agreement proves the full-pixel walk including row strides.
  // -------------------------------------------------------------------
  /** per-image output of the gradient pass */
  final case class GradRow(
      doc_id: Long, n_pairs: Long, n_edges: Long,
      grad_sum: Long, grad_max: Long)

  private def gradEnergy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val len = text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
          val w = (4 + id % DimMod).toInt
          val h = (4 + len % DimMod).toInt
          val img = ImageHeaders.bmpGray(w, h,
            (x, y) => ((7L * x + 13L * y + 31L * id) % 256L).toInt)
          val (dw, dh, px) = ImageHeaders.decodeBmpPixels(img)
          var nEdges = 0L; var gradSum = 0L; var gradMax = 0L
          var y = 0
          while (y < dh) {
            var x = 0
            while (x < dw - 1) {
              val d = math.abs(px(x + 1, y) - px(x, y)).toLong
              if (d > 32L) nEdges += 1L
              gradSum += d
              if (d > gradMax) gradMax = d
              x += 1
            }
            y += 1
          }
          GradRow(id, (dw - 1).toLong * dh, nEdges, gradSum, gradMax)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  private val gradEnergySql =
    s"""WITH dims AS (
       |  SELECT doc_id, 4 + doc_id % $DimMod AS w,
       |    4 + CAST(octet_length(encode(text)) AS BIGINT) % $DimMod AS h
       |  FROM documents),
       |px AS (
       |  SELECT doc_id,
       |    ABS(((7 * (x + 1) + 13 * y + 31 * doc_id) % 256)
       |        - ((7 * x + 13 * y + 31 * doc_id) % 256)) AS d
       |  FROM (SELECT doc_id, w, h, unnest(range(0, w - 1)) AS x FROM dims) gx,
       |    LATERAL (SELECT unnest(range(0, gx.h)) AS y) gy)
       |SELECT doc_id, COUNT(*) AS n_pairs,
       |  CAST(SUM(CASE WHEN d > 32 THEN 1 ELSE 0 END) AS BIGINT) AS n_edges,
       |  CAST(SUM(d) AS BIGINT) AS grad_sum,
       |  CAST(MAX(d) AS BIGINT) AS grad_max
       |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // mm_audio_clip: CLIPPING detection over the decoded PCM stream —
  // the audio-quality gate's first check (samples pinned at the rail =
  // recording or normalization damage). |v| ≥ 1900 marks a clipped
  // sample (the fixture rails at ±2000); emitted per asset: clipped
  // count and the LONGEST CONSECUTIVE clipped run — run length is
  // what distinguishes a transient peak from a flattened waveform.
  // Spark walks the real WAV decode (chunk list, junk-LIST skip,
  // sign-extended PCM16) with an in-pass run tracker; the oracle
  // replays the sample formula and derives runs by gaps-and-islands
  // (i − row_number over clipped i = run id).
  // -------------------------------------------------------------------
  /** per-asset output of the clipping pass */
  final case class ClipRow(
      doc_id: Long, n_samples: Long, n_clipped: Long, max_run: Long)

  private def audioClip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val len = text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
          val n = (64 + len % AudioNMod).toInt
          val rate = (8000 + (id % 4) * 4000).toInt
          val samples = Array.tabulate(n)(i =>
            (((17L * i + 31L * id) % AudioAmp) - 2000L).toShort)
          val stream0 = AudioWav.wav(rate, samples)
          val stream = if (id % 3 == 0) {
            val junk = "LIST".getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
              Array[Byte](6, 0, 0, 0) ++ Array[Byte](73, 78, 70, 79, 1, 2)
            stream0.take(12) ++ junk ++ stream0.drop(12)
          } else stream0
          val pcm = AudioWav.decode(stream)
          var nClipped = 0L; var run = 0L; var maxRun = 0L
          var i = 0
          while (i < pcm.nSamples) {
            if (math.abs(pcm.sample(i).toLong) >= 1900L) {
              nClipped += 1L; run += 1L
              if (run > maxRun) maxRun = run
            } else run = 0L
            i += 1
          }
          ClipRow(id, pcm.nSamples.toLong, nClipped, maxRun)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  private val audioClipSql =
    s"""WITH dims AS (
       |  SELECT doc_id,
       |    64 + CAST(octet_length(encode(text)) AS BIGINT) % $AudioNMod AS n
       |  FROM documents),
       |idx AS (SELECT doc_id, unnest(range(0, n)) AS i FROM dims),
       |s AS (SELECT doc_id, i,
       |    ((17 * i + 31 * doc_id) % $AudioAmp) - 2000 AS v FROM idx),
       |c AS (SELECT doc_id, i FROM s WHERE abs(v) >= 1900),
       |g AS (SELECT doc_id,
       |    i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
       |  FROM c),
       |runs AS (SELECT doc_id, COUNT(*) AS run FROM g GROUP BY doc_id, grp),
       |agg AS (SELECT doc_id, SUM(run) AS n_clipped, MAX(run) AS max_run
       |        FROM runs GROUP BY 1)
       |SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_samples,
       |  CAST(COALESCE(a.n_clipped, 0) AS BIGINT) AS n_clipped,
       |  CAST(COALESCE(a.max_run, 0) AS BIGINT) AS max_run
       |FROM dims d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // mm_phash_dup: perceptual NEAR-DUP detection over the aHash — what
  // mm_resize_phash's output exists for. The fixture makes visual
  // near-dups real: docs share a base pattern per GROUP (g = id div 4
  // keys the luminance formula and width) while height varies per doc
  // (even ids: group-keyed; odd: length-keyed) — the same image at
  // different scales, the canonical perceptual-dup scenario. Each
  // asset still runs the full real pipeline (BMP encode → pixel decode
  // → 8×8 resize → aHash), emitting the hash as 4 × 16-bit BANDS.
  // Candidate pairs come from a banded LSH bucket join — pairs agree
  // on ≥1 band, never an all-pairs join — then the exact Hamming
  // distance (bit_count of XOR, codegen'd) filters to ≤ 3. With 4
  // bands and threshold 3 the pigeonhole principle makes the banded
  // result EXACTLY the all-pairs result (≤3 differing bits can touch
  // at most 3 of 4 bands), so the DuckDB oracle — which replays the
  // generator formulas and joins all pairs at gate scale — must agree
  // row-for-row: the gate proves the LSH recall is 1, not just
  // plausible. Scale: candidates ∝ bucket collisions (linear for
  // non-pathological hash distributions), pixels never shuffle, and
  // the 100 TB plan is the same 4-band shuffle.
  // -------------------------------------------------------------------
  private val PHashHamMax = 3L

  /** group-keyed fixture + real pipeline → (doc_id, 4 aHash bands).
    * Band b holds thumbnail bits 16b..16b+15 (bit i = row-major
    * (gy,gx) = (i div 8, i mod 8), set when 64·v ≥ Σv).
    */
  private def phashBandRows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val len = text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
          val g = id / 4
          val w = (4 + g % DimMod).toInt
          val h = (4 + (if (id % 2 == 0) (g * 7) % DimMod else len % DimMod)).toInt
          val img = ImageHeaders.bmpGray(w, h,
            (x, y) => ((7L * x + 13L * y + 31L * g) % 256L).toInt)
          val (dw, dh, px) = ImageHeaders.decodeBmpPixels(img)
          val samples = Array.tabulate(ThumbEdge * ThumbEdge) { i =>
            px((i % ThumbEdge) * dw / ThumbEdge, (i / ThumbEdge) * dh / ThumbEdge)
          }
          val total = samples.foldLeft(0L)(_ + _)
          val bands = new Array[Long](4)
          var i = 0
          while (i < samples.length) {
            if (64L * samples(i) >= total)
              bands(i / 16) |= 1L << (i % 16)
            i += 1
          }
          (id, bands(0), bands(1), bands(2), bands(3))
        }
      }
      .toDF("doc_id", "b0", "b1", "b2", "b3")
  }

  /** banded LSH pairs over a (doc_id, b0..b3) hash table: bucket join
    * on any matching band, then exact Hamming verification
    */
  private def phashPairs(hashes: DataFrame): DataFrame = {
    // LSH candidate generation: explode to (band_idx, band_val) and
    // bucket-join — a pair surfaces iff some band matches
    val banded = hashes.select(col("doc_id"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("band", "bv")))
    val l = banded.select(col("band"), col("bv"), col("doc_id").as("doc_a"))
    val r = banded.select(col("band"), col("bv"), col("doc_id").as("doc_b"))
    val cand = l.join(r, Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val ha = hashes.select(col("doc_id").as("doc_a"), col("b0").as("a0"),
      col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val hb = hashes.select(col("doc_id").as("doc_b"), col("b0").as("c0"),
      col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    cand.join(ha, "doc_a").join(hb, "doc_b")
      .withColumn("hamming",
        bit_count(col("a0").bitwiseXOR(col("c0"))) +
          bit_count(col("a1").bitwiseXOR(col("c1"))) +
          bit_count(col("a2").bitwiseXOR(col("c2"))) +
          bit_count(col("a3").bitwiseXOR(col("c3"))))
      .filter(col("hamming") <= PHashHamMax)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long"))
      .orderBy("doc_a", "doc_b")
  }

  /** the pair pipeline's physical plan, exposed for PlanShapeSpec —
    * every join must be a keyed equi-join (bucket candidates, hash
    * attach), never a cartesian/BNL all-pairs product
    */
  private[graft] def phashDupPlan(spark: SparkSession,
      dir: String): org.apache.spark.sql.execution.SparkPlan =
    phashPairs(phashBandRows(spark, dir)).queryExecution.executedPlan

  /** the verified phash pair set as a session substrate — built once
    * (BMP encode → decode → resize → aHash → banded join → Hamming
    * verify is the expensive half), served to mm_phash_dup and the
    * cross-modal overlap audit
    */
  private val phashPairCache = SubstrateCache.frame("documents.parquet")

  private def phashDupPairs(spark: SparkSession, dir: String): DataFrame =
    phashPairCache.get(spark, dir) {
      val hashes = phashBandRows(spark, dir).persist()
      val out = phashPairs(hashes).localCheckpoint()
      hashes.unpersist()
      out
    }

  private def phashDup(spark: SparkSession, dir: String): DataFrame =
    phashDupPairs(spark, dir).orderBy("doc_a", "doc_b")

  // -------------------------------------------------------------------
  // mm_joint_dup: CROSS-MODAL asset dedup overlap — the dd_method_compare
  // shape applied across MODALITIES instead of across hash families:
  // the same asset corpus runs three dedup tiers a multimodal pipeline
  // would stack (exact payload bytes via content digest; perceptual
  // image near-dup via the banded aHash; text/caption near-dup via
  // verified MinHash), and this table reports every region of the
  // three-set pair Venn — the evidence for which tier a pipeline can
  // SKIP (a tier whose pairs are a subset of a cheaper tier's adds
  // nothing) and which finds exclusive duplicates. Composed from the
  // two session-cached pair substrates plus one digest self-join
  // (payloads never move — 32-byte digests shuffle, computed map-side);
  // the audit is output-bounded at any scale, never a recompute.
  // -------------------------------------------------------------------
  private def jointDup(spark: SparkSession, dir: String): DataFrame = {
    val img = phashDupPairs(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"), lit(1L).as("i"))
    val txt = Dedup.minhashPairs(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"), lit(1L).as("t"))
    val dg = withPayload(spark, dir)
      .select(col("doc_id"), sha2(col("payload"), 256).as("digest"))
    val ex = dg.select(col("digest"), col("doc_id").as("a"))
      .join(dg.select(col("digest"), col("doc_id").as("b")), Seq("digest"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), lit(1L).as("x"))
    img.join(txt, Seq("a", "b"), "full_outer")
      .join(ex, Seq("a", "b"), "full_outer")
      .agg(count(lit(1)).as("n_union"),
        sum(col("i").isNotNull.cast("long")).as("n_image"),
        sum(col("t").isNotNull.cast("long")).as("n_text"),
        sum(col("x").isNotNull.cast("long")).as("n_exact"),
        sum((col("i").isNotNull && col("t").isNotNull).cast("long"))
          .as("n_image_text"),
        sum((col("i").isNotNull && col("x").isNotNull).cast("long"))
          .as("n_image_exact"),
        sum((col("t").isNotNull && col("x").isNotNull).cast("long"))
          .as("n_text_exact"),
        sum((col("i").isNotNull && col("t").isNotNull &&
          col("x").isNotNull).cast("long")).as("n_all_three"))
  }

  private def jointDupSql: String =
    s"""WITH img AS (SELECT doc_a AS a, doc_b AS b, 1 AS i
       |  FROM ($phashDupSql) p),
       |txt AS (SELECT doc_a AS a, doc_b AS b, 1 AS t
       |  FROM (${Dedup.minhashPairsOracleSql}) m),
       |dgj AS (SELECT sha256(text) AS digest, doc_id FROM documents),
       |ex AS (SELECT xx.doc_id AS a, yy.doc_id AS b, 1 AS x
       |  FROM dgj xx JOIN dgj yy
       |    ON xx.digest = yy.digest AND xx.doc_id < yy.doc_id),
       |j AS (SELECT i, t, x
       |  FROM img FULL OUTER JOIN txt USING (a, b)
       |  FULL OUTER JOIN ex USING (a, b))
       |SELECT COUNT(*) AS n_union,
       |  CAST(SUM(CASE WHEN i IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_image,
       |  CAST(SUM(CASE WHEN t IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_text,
       |  CAST(SUM(CASE WHEN x IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_exact,
       |  CAST(SUM(CASE WHEN i IS NOT NULL AND t IS NOT NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_image_text,
       |  CAST(SUM(CASE WHEN i IS NOT NULL AND x IS NOT NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_image_exact,
       |  CAST(SUM(CASE WHEN t IS NOT NULL AND x IS NOT NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_text_exact,
       |  CAST(SUM(CASE WHEN i IS NOT NULL AND t IS NOT NULL
       |    AND x IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_all_three
       |FROM j""".stripMargin

  private val phashDupSql =
    s"""WITH dims AS (
       |  SELECT doc_id, doc_id // 4 AS g,
       |    4 + (doc_id // 4) % $DimMod AS w,
       |    4 + (CASE WHEN doc_id % 2 = 0 THEN (doc_id // 4) * 7
       |         ELSE CAST(octet_length(encode(text)) AS BIGINT) END) % $DimMod AS h
       |  FROM documents),
       |px AS (
       |  SELECT doc_id, gy, gx,
       |    (7 * ((gx * w) // $ThumbEdge) + 13 * ((gy * h) // $ThumbEdge)
       |      + 31 * g) % 256 AS v
       |  FROM dims, range(0, $ThumbEdge) t1(gy), range(0, $ThumbEdge) t2(gx)),
       |sums AS (SELECT doc_id, SUM(v) AS px_sum FROM px GROUP BY 1),
       |bands AS (
       |  SELECT p.doc_id, (p.gy * 8 + p.gx) // 16 AS band,
       |    SUM(CASE WHEN 64 * p.v >= s.px_sum
       |        THEN 1::BIGINT << ((p.gy * 8 + p.gx) % 16) ELSE 0 END) AS bv
       |  FROM px p JOIN sums s USING (doc_id) GROUP BY 1, 2),
       |h AS (
       |  SELECT doc_id,
       |    MAX(CASE WHEN band = 0 THEN bv END) AS b0,
       |    MAX(CASE WHEN band = 1 THEN bv END) AS b1,
       |    MAX(CASE WHEN band = 2 THEN bv END) AS b2,
       |    MAX(CASE WHEN band = 3 THEN bv END) AS b3
       |  FROM bands GROUP BY 1)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
       |     + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
       |    AS BIGINT) AS hamming
       |FROM h a JOIN h b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
       |    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
       |    <= $PHashHamMax
       |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------------------------------
  // mm_audio_stats: the AUDIO modality, same differential contract as
  // the image path. The fixture renders each document as a REAL WAV
  // stream (RIFF + fmt + data chunks, mono signed PCM16) whose sample
  // values derive from a closed-form formula of (doc_id, sample
  // index); the operator then runs what an audio featurizer runs —
  // decode by WALKING the chunk list (an unknown LIST chunk is
  // spliced in front of fmt for every third asset, so a fixed-offset
  // "parser" would fail), then compute the standard integer waveform
  // features: peak |amplitude|, zero-crossing count (the cheap pitch/
  // noisiness proxy) and total energy Σs². All exact integers — no
  // floats anywhere — so the oracle can replay the generator formulas
  // with unnest(range(n)). Scale shape: one mapPartitions pass, PCM
  // bytes never shuffle, one 48-byte row per asset flows out.
  // -------------------------------------------------------------------
  /** fixture formulas for mm_audio_stats: n = 64 + len % 937 samples,
    * rate = 8000 + (id % 4) · 4000, s(i) = ((17i + 31·id) mod 4001) −
    * 2000 — bounded ±2000 so Σs² ≤ 4·10⁹ fits comfortably in a long.
    */
  private final val AudioNMod = 937L
  private final val AudioAmp = 4001L

  /** per-asset output of the audio decode/feature pass */
  final case class AudioRow(doc_id: Long, sample_rate: Long, n_samples: Long,
      peak: Long, zero_crossings: Long, energy: Long)

  private def audioStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val len = text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
          val n = (64 + len % AudioNMod).toInt
          val rate = (8000 + (id % 4) * 4000).toInt
          val samples = Array.tabulate(n)(i =>
            (((17L * i + 31L * id) % AudioAmp) - 2000L).toShort)
          val stream0 = AudioWav.wav(rate, samples)
          // every 3rd asset gets a junk LIST chunk spliced before fmt —
          // the decoder must skip it by walking the chunk list
          val stream = if (id % 3 == 0) {
            val junk = "LIST".getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
              Array[Byte](6, 0, 0, 0) ++ Array[Byte](73, 78, 70, 79, 1, 2)
            stream0.take(12) ++ junk ++ stream0.drop(12)
          } else stream0
          // the actual decode: chunk walk + sign-extended PCM16 reads
          val pcm = AudioWav.decode(stream)
          var peak = 0L; var zc = 0L; var energy = 0L
          var i = 0
          while (i < pcm.nSamples) {
            val s = pcm.sample(i).toLong
            if (math.abs(s) > peak) peak = math.abs(s)
            if (i > 0 && ((pcm.sample(i - 1) < 0) != (s < 0))) zc += 1
            energy += s * s
            i += 1
          }
          AudioRow(id, pcm.sampleRate.toLong, pcm.nSamples.toLong,
            peak, zc, energy)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  private val audioStatsSql =
    s"""WITH dims AS (
       |  SELECT doc_id,
       |    64 + CAST(octet_length(encode(text)) AS BIGINT) % $AudioNMod AS n,
       |    8000 + (doc_id % 4) * 4000 AS sample_rate
       |  FROM documents),
       |idx AS (
       |  SELECT doc_id, unnest(range(0, n)) AS i FROM dims),
       |s AS (
       |  SELECT doc_id, i,
       |    ((17 * i + 31 * doc_id) % $AudioAmp) - 2000 AS v
       |  FROM idx),
       |feat AS (
       |  SELECT doc_id, i, v,
       |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
       |  FROM s)
       |SELECT f.doc_id,
       |  CAST(MIN(d.sample_rate) AS BIGINT) AS sample_rate,
       |  CAST(MIN(d.n) AS BIGINT) AS n_samples,
       |  CAST(MAX(abs(f.v)) AS BIGINT) AS peak,
       |  CAST(SUM(CASE WHEN f.pv IS NOT NULL
       |    AND (f.pv < 0) <> (f.v < 0) THEN 1 ELSE 0 END) AS BIGINT)
       |    AS zero_crossings,
       |  CAST(SUM(f.v * f.v) AS BIGINT) AS energy
       |FROM feat f JOIN dims d USING (doc_id)
       |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // mm_silence_spans: VAD-style SEGMENTATION over decoded PCM — the
  // step after per-asset summary stats: find the maximal near-silent
  // runs (|s| < 100) and report per asset how many, the longest, and
  // the total silent tail. Real speech pipelines cut on exactly this
  // to drop dead air before featurizing. The fixture gates the audio
  // formula into alternating blocks — every sample whose
  // ((i div 50) + id) % 3 == 0 block is written as literal PCM zero —
  // so genuine multi-sample silent stretches exist; the encoder/decoder
  // chunk-walk contract (junk LIST chunk on every 3rd asset) is
  // unchanged. Spark segments imperatively IN the same mapPartitions
  // decode pass (run-length over the sample array — binary decode has
  // no Catalyst form, and the segmentation rides the pass for free;
  // PCM bytes never shuffle, one 40-byte row per asset flows out).
  // The oracle replays the gated generator formula and segments with
  // the islands-and-gaps idiom (i − row_number over silent rows), so
  // the two formulations cross-check codec, gate arithmetic, AND the
  // run-length logic.
  // -------------------------------------------------------------------
  private val SilenceBlock = 50L
  private val SilenceThr = 100L

  /** per-asset output of the silence segmentation pass */
  final case class SilenceRow(doc_id: Long, n_samples: Long,
      n_silent_spans: Long, longest_silent_span: Long, silent_samples: Long)

  private def silenceSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val len = text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
          val n = (64 + len % AudioNMod).toInt
          val rate = (8000 + (id % 4) * 4000).toInt
          val samples = Array.tabulate(n) { i =>
            if (((i / SilenceBlock) + id) % 3 == 0) 0.toShort
            else (((17L * i + 31L * id) % AudioAmp) - 2000L).toShort
          }
          val stream0 = AudioWav.wav(rate, samples)
          val stream = if (id % 3 == 0) {
            val junk = "LIST".getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
              Array[Byte](6, 0, 0, 0) ++ Array[Byte](73, 78, 70, 79, 1, 2)
            stream0.take(12) ++ junk ++ stream0.drop(12)
          } else stream0
          val pcm = AudioWav.decode(stream)
          var spans = 0L; var longest = 0L; var silent = 0L; var cur = 0L
          var i = 0
          while (i < pcm.nSamples) {
            if (math.abs(pcm.sample(i).toLong) < SilenceThr) {
              cur += 1; silent += 1
              if (cur == 1L) spans += 1
              if (cur > longest) longest = cur
            } else cur = 0L
            i += 1
          }
          SilenceRow(id, pcm.nSamples.toLong, spans, longest, silent)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  private val silenceSpansSql =
    s"""WITH dims AS (
       |  SELECT doc_id,
       |    64 + CAST(octet_length(encode(text)) AS BIGINT) % $AudioNMod AS n
       |  FROM documents),
       |idx AS (
       |  SELECT doc_id, unnest(range(0, n)) AS i FROM dims),
       |s AS (
       |  SELECT doc_id, i,
       |    CASE WHEN ((i // $SilenceBlock) + doc_id) % 3 = 0 THEN 0
       |         ELSE ((17 * i + 31 * doc_id) % $AudioAmp) - 2000 END AS v
       |  FROM idx),
       |sil AS (
       |  SELECT doc_id, i,
       |    i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
       |  FROM s WHERE abs(v) < $SilenceThr),
       |spans AS (SELECT doc_id, grp, COUNT(*) AS len FROM sil GROUP BY 1, 2)
       |SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_samples,
       |  CAST(COALESCE(COUNT(sp.len), 0) AS BIGINT) AS n_silent_spans,
       |  CAST(COALESCE(MAX(sp.len), 0) AS BIGINT) AS longest_silent_span,
       |  CAST(COALESCE(SUM(sp.len), 0) AS BIGINT) AS silent_samples
       |FROM dims d LEFT JOIN spans sp USING (doc_id)
       |GROUP BY d.doc_id, d.n ORDER BY d.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // mm_audio_fp: PERCEPTUAL AUDIO DEDUP — the audio tier of the
  // near-dup matrix that mm_phash_dup provides for images. Shazam-class
  // fingerprinting reduces a waveform to a compact spectral signature
  // and groups assets by signature; this is that shape in exact integer
  // arithmetic: the decoded PCM correlates against 5 square waves
  // (Walsh-style ±1 patterns, half-periods 2/4/8/16/32 — a crude but
  // deterministic filter bank; square-wave correlation IS the Hadamard
  // coefficient, no floats, no FFT), each coefficient floor-quantized
  // by 8192 (the perceptual tolerance — nearby waveforms land in the
  // same cell), and the 5-tuple is the fingerprint. Output is the dedup
  // audit: the top-20 fingerprint buckets holding ≥ 2 assets (count +
  // first doc), the audio analog of dd_substring_dup's span audit.
  // Same differential contract as mm_audio_stats: Spark renders and
  // REALLY decodes the WAV (chunk walk past the spliced junk LIST
  // chunk); the oracle replays the closed-form sample generator.
  //
  // Scale shape: one mapPartitions decode pass, PCM never shuffles —
  // per asset only the ≤60-byte fingerprint row moves into one
  // hash aggregate; top-20 is a TakeOrdered heap. At 100 TB the
  // fingerprint table is the persisted index; this audit is one
  // aggregate over it.
  // -------------------------------------------------------------------
  /** half-periods of the ±1 square-wave filter bank */
  private final val FpBands = Seq(2, 4, 8, 16, 32)
  /** fingerprint quantizer: the perceptual tolerance per coefficient */
  private final val FpQuant = 8192L

  /** per-asset fingerprint row of the decode/correlate pass */
  final case class AudioFpRow(doc_id: Long, fp: String)

  private def audioFp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fps = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val len = text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
          val n = (64 + len % AudioNMod).toInt
          val rate = (8000 + (id % 4) * 4000).toInt
          val samples = Array.tabulate(n)(i =>
            (((17L * i + 31L * id) % AudioAmp) - 2000L).toShort)
          val stream0 = AudioWav.wav(rate, samples)
          val stream = if (id % 3 == 0) {
            val junk = "LIST".getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
              Array[Byte](6, 0, 0, 0) ++ Array[Byte](73, 78, 70, 79, 1, 2)
            stream0.take(12) ++ junk ++ stream0.drop(12)
          } else stream0
          val pcm = AudioWav.decode(stream)
          val c = new Array[Long](FpBands.length)
          var i = 0
          while (i < pcm.nSamples) {
            val s = pcm.sample(i).toLong
            var b = 0
            while (b < FpBands.length) {
              c(b) += (if ((i / FpBands(b)) % 2 == 0) s else -s)
              b += 1
            }
            i += 1
          }
          // truncating division (Scala /) — the twin of DuckDB's // on
          // BIGINT, which truncates toward zero, NOT floor
          AudioFpRow(id, c.map(_ / FpQuant).mkString(","))
        }
      }
      .toDF()
    fps.groupBy("fp")
      .agg(count(lit(1)).as("n_assets"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_assets") >= 2)
      .orderBy(col("n_assets").desc, col("fp").asc)
      .limit(20)
  }

  private val audioFpSql = {
    val corr = FpBands.map(p =>
      s"SUM(v * (CASE WHEN (i // $p) % 2 = 0 THEN 1 ELSE -1 END)) AS c$p")
      .mkString(",\n    ")
    val comps = FpBands.map(p => s"CAST(c$p // $FpQuant AS BIGINT)")
      .mkString(", ")
    s"""WITH dims AS (
       |  SELECT doc_id,
       |    64 + CAST(octet_length(encode(text)) AS BIGINT) % $AudioNMod AS n
       |  FROM documents),
       |idx AS (
       |  SELECT doc_id, unnest(range(0, n)) AS i FROM dims),
       |s AS (
       |  SELECT doc_id, i,
       |    ((17 * i + 31 * doc_id) % $AudioAmp) - 2000 AS v
       |  FROM idx),
       |corr AS (
       |  SELECT doc_id,
       |    $corr
       |  FROM s GROUP BY doc_id),
       |fp AS (SELECT doc_id, concat_ws(',', $comps) AS fp FROM corr)
       |SELECT fp, COUNT(*) AS n_assets, MIN(doc_id) AS first_doc
       |FROM fp GROUP BY fp HAVING COUNT(*) >= 2
       |ORDER BY n_assets DESC, fp ASC LIMIT 20""".stripMargin
  }

  // -------------------------------------------------------------------
  // mm_quarantine: CORRUPT-PAYLOAD quarantine for the decode path —
  // the ingest property real pipelines live or die by: a malformed
  // blob must become a categorized quarantine row, never a task
  // failure. The fixture deterministically damages payloads (every
  // 7th asset truncated to 9 bytes — too short for any header; every
  // 11th, not also 7th, gets its magic bytes zeroed — unrecognized
  // format), the decoder runs the normal header parse, and the result
  // is an ingest ledger: per-status/reason counts, byte volume, and
  // the min/max damaged ids pinning WHICH assets were quarantined.
  // The try/catch-shaped branch lives in the SAME mapPartitions seam
  // as the decode (`decodeHeader` returns "unknown" rather than
  // throwing — the structured-error contract); the oracle replays the
  // damage predicates. ax_corrupt_ingest covers malformed TEXT
  // records via Spark's PERMISSIVE/quarantine columns; this is the
  // binary twin where no built-in parser exists.
  // -------------------------------------------------------------------
  private def quarantine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val intact = assetBytes(id,
            text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val payload =
            if (id % 7 == 0) intact.take(9)
            else if (id % 11 == 0) {
              val b = intact.clone(); b(0) = 0; b(1) = 0; b
            } else intact
          val (fmt, w, h, _) = ImageHeaders.decodeHeader(payload)
          val status =
            if (fmt != "unknown") "ok"
            else if (payload.length < 30) "truncated"
            else "bad_magic"
          (id, status, fmt, payload.length.toLong, w.toLong.max(0), h.toLong.max(0))
        }
      }
      .toDF("doc_id", "status", "fmt", "n_bytes", "w", "h")
      .groupBy("status", "fmt")
      .agg(count(lit(1)).as("n_assets"),
        sum(col("n_bytes")).as("sum_bytes"),
        sum(col("w")).as("sum_width"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("status", "fmt")
  }

  private val quarantineSql =
    s"""WITH a AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 2 = 0 THEN ${ImageHeaders.PngOverhead}
       |         ELSE ${ImageHeaders.BmpOverhead} END
       |      + CAST(octet_length(encode(text)) AS BIGINT) AS full_bytes,
       |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS good_fmt,
       |    4 + doc_id % 509 AS width,
       |    4 + CAST(octet_length(encode(text)) AS BIGINT) % 509 AS height
       |  FROM documents),
       |r AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN 'truncated'
       |         WHEN doc_id % 11 = 0 THEN 'bad_magic'
       |         ELSE 'ok' END AS status,
       |    CASE WHEN doc_id % 7 = 0 OR doc_id % 11 = 0 THEN 'unknown'
       |         ELSE good_fmt END AS fmt,
       |    CASE WHEN doc_id % 7 = 0 THEN 9 ELSE full_bytes END AS n_bytes,
       |    CASE WHEN doc_id % 7 = 0 OR doc_id % 11 = 0 THEN 0
       |         ELSE width END AS w
       |  FROM a)
       |SELECT status, fmt, COUNT(*) AS n_assets,
       |  CAST(SUM(n_bytes) AS BIGINT) AS sum_bytes,
       |  CAST(SUM(w) AS BIGINT) AS sum_width,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
       |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // mm_exact_dedup: content-addressed dedup of the BINARY payload — the
  // first pass every multimodal ingest runs (identical bytes are the
  // overwhelmingly common duplicate for images/audio: same file
  // uploaded twice). Digest the bytes (sha2 — computed ONCE per
  // payload, map-side), shuffle only the 32-byte digest + ids, never
  // the payloads; one keyed aggregate per digest. Payloads never move:
  // at 100 TB that is the entire design.
  //
  // Emitted as a single-row audit SUMMARY (group count / dup copies /
  // reclaimable bytes) rather than the per-group listing: whole-payload
  // duplicates only exist at bench scale in the driver data (sf0.1 has
  // 8 duplicate groups; sf0.01 has none), and a gate query that returns
  // 0 rows verifies nothing. The summary row always exists, so both
  // engines must agree on the zeros too. The per-group listing shape is
  // covered by mm_chunk_dedup below, which has real duplicates at every
  // SF.
  // -------------------------------------------------------------------
  private def exactDedup(spark: SparkSession, dir: String): DataFrame =
    withPayload(spark, dir)
      .select(sha2(col("payload"), 256).as("digest"),
        length(col("payload")).cast("long").as("n_bytes"))
      .groupBy("digest")
      .agg(count(lit(1)).as("n_copies"), max(col("n_bytes")).as("payload_bytes"))
      .agg(
        count(lit(1)).as("n_unique_payloads"),
        sum((col("n_copies") > 1).cast("long")).as("dup_groups"),
        sum(when(col("n_copies") > 1, col("n_copies") - 1).otherwise(0L))
          .as("dup_copies"),
        sum(when(col("n_copies") > 1, (col("n_copies") - 1) * col("payload_bytes"))
          .otherwise(0L)).as("reclaimed_bytes"))

  private val exactDedupSql =
    """WITH g AS (
      |  SELECT sha256(text) AS digest, COUNT(*) AS n_copies,
      |    MAX(octet_length(encode(text))) AS payload_bytes
      |  FROM documents GROUP BY 1)
      |SELECT COUNT(*) AS n_unique_payloads,
      |  CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups,
      |  CAST(SUM(CASE WHEN n_copies > 1 THEN n_copies - 1 ELSE 0 END) AS BIGINT)
      |    AS dup_copies,
      |  CAST(SUM(CASE WHEN n_copies > 1 THEN (n_copies - 1) * payload_bytes
      |           ELSE 0 END) AS BIGINT) AS reclaimed_bytes
      |FROM g""".stripMargin

  // -------------------------------------------------------------------
  // mm_chunk_dedup: block-level content-addressed dedup — the storage
  // tier below whole-file dedup (the rsync / content-defined-chunking
  // idea, fixed 64-byte blocks here): two payloads that share any block
  // share storage for it. Generator with bounded fan-out (rows ∝ bytes /
  // ChunkLen), digest computed map-side, only (digest, doc_id, cidx)
  // tuples shuffle — never the payload bytes. Groups with ≥ 2 copies
  // are the audit listing: representative (min doc_id), distinct-doc
  // spread, reclaimable bytes. Real duplicates exist at every SF
  // (documents share sentence prefixes), so the gate exercises actual
  // dedup rows, not an empty result.
  // -------------------------------------------------------------------
  private val ChunkLen = 64

  private def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .withColumn("last_c",
        greatest(lit(0L), expr(s"(length(text) - 1) div $ChunkLen")))
      .withColumn("cidx", explode(sequence(lit(0L), col("last_c"))))
      .withColumn("chunk",
        substring(col("text"), (col("cidx") * ChunkLen + 1).cast("int"),
          lit(ChunkLen)))
      .select(col("doc_id"), md5(col("chunk")).as("chunk_digest"),
        length(col("chunk")).cast("long").as("chunk_bytes"))
      .groupBy("chunk_digest")
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keep_doc"),
        max(col("chunk_bytes")).as("chunk_bytes"))
      .filter(col("n_copies") >= 2)
      .select(col("chunk_digest"), col("n_copies"), col("n_docs"), col("keep_doc"),
        ((col("n_copies") - 1) * col("chunk_bytes")).as("reclaimed_bytes"))
      .orderBy("chunk_digest")

  private val chunkDedupSql =
    s"""WITH chunks AS (
       |  SELECT doc_id,
       |    md5(substring(text, CAST(cidx * $ChunkLen + 1 AS INT), $ChunkLen)) AS chunk_digest,
       |    octet_length(encode(substring(text, CAST(cidx * $ChunkLen + 1 AS INT), $ChunkLen)))
       |      AS chunk_bytes
       |  FROM (
       |    SELECT doc_id, text,
       |      unnest(range(0, greatest((length(text) - 1) // $ChunkLen, 0) + 1)) AS cidx
       |    FROM documents))
       |SELECT chunk_digest, COUNT(*) AS n_copies,
       |  COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS keep_doc,
       |  CAST((COUNT(*) - 1) * MAX(chunk_bytes) AS BIGINT) AS reclaimed_bytes
       |FROM chunks GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // mm_aspect_buckets: ASPECT-RATIO curation gate — orientation
  // (landscape/portrait/square from the DECODED header dimensions)
  // and the aspect range per (fmt, orientation), the filter table a
  // vision-training pipeline applies before resize (extreme aspect
  // ratios destroy content under square resize; most recipes drop
  // outside ~[1:3, 3:1]). Spark parses the REAL container headers in
  // the same mapPartitions seam as mm_decode_stats; the DuckDB
  // oracle replays the fixture generator's dimension formulas — the
  // differential proof that classification reads decoded fields, not
  // the generator. Aspect is exact integer permille (w·1000 div h,
  // h ≥ 4 > 0); flagged = outside [333, 3000] permille, the rows a
  // curation run would drop.
  // -------------------------------------------------------------------
  private def aspectBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val assets = spark.read
      .parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { batch =>
        batch.map { case (id, text) =>
          val payload = assetBytes(id,
            text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val (fmt, dw, dh, _) = ImageHeaders.decodeHeader(payload)
          (fmt, dw.toLong, dh.toLong)
        }
      }.toDF("fmt", "w", "h")
    assets
      .withColumn("orientation",
        when(col("w") > col("h"), "landscape")
          .when(col("w") < col("h"), "portrait").otherwise("square"))
      .withColumn("aspect_pm", expr("(w * 1000L) div h"))
      .groupBy("fmt", "orientation")
      .agg(count(lit(1)).as("n_assets"),
        min(col("aspect_pm")).as("min_aspect_pm"),
        max(col("aspect_pm")).as("max_aspect_pm"),
        sum(when(col("aspect_pm") < 333 || col("aspect_pm") > 3000, 1L)
          .otherwise(0L)).as("n_flagged"))
      .orderBy("fmt", "orientation")
  }

  private val aspectBucketsSql =
    """WITH a AS (SELECT
      |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
      |    4 + doc_id % 509 AS w,
      |    4 + CAST(octet_length(encode(text)) AS BIGINT) % 509 AS h
      |  FROM documents),
      |c AS (SELECT fmt,
      |    CASE WHEN w > h THEN 'landscape'
      |         WHEN w < h THEN 'portrait' ELSE 'square' END AS orientation,
      |    w * 1000 // h AS aspect_pm
      |  FROM a)
      |SELECT fmt, orientation, COUNT(*) AS n_assets,
      |  CAST(MIN(aspect_pm) AS BIGINT) AS min_aspect_pm,
      |  CAST(MAX(aspect_pm) AS BIGINT) AS max_aspect_pm,
      |  CAST(SUM(CASE WHEN aspect_pm < 333 OR aspect_pm > 3000
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("mm_aspect_buckets", aspectBuckets, aspectBucketsSql),
    Gate("mm_metadata", metadata, metadataSql),
    Gate("mm_decode_stats", decodeStats, decodeStatsSql),
    Gate("mm_binary_source", binarySource, binarySourceSql),
    Gate("mm_frame_sample", frameSample, frameSampleSql),
    Gate("mm_resize_phash", resizePhash, resizePhashSql),
    Gate("mm_lum_hist", lumHist, lumHistSql),
    Gate("mm_grad_energy", gradEnergy, gradEnergySql),
    Gate("mm_audio_clip", audioClip, audioClipSql),
    Gate("mm_audio_resample", audioResample, audioResampleSql),
    Gate("mm_scene_cuts", sceneCuts, sceneCutsSql),
    Gate("mm_audio_stats", audioStats, audioStatsSql),
    Gate("mm_audio_fp", audioFp, audioFpSql),
    Gate("mm_silence_spans", silenceSpans, silenceSpansSql),
    Gate("mm_phash_dup", phashDup, phashDupSql),
    Gate("mm_joint_dup", jointDup, jointDupSql),
    Gate("mm_quarantine", quarantine, quarantineSql),
    Gate("mm_exact_dedup", exactDedup, exactDedupSql),
    Gate("mm_chunk_dedup", chunkDedup, chunkDedupSql)
  )

  // mm_decode_stats oracle: replays the fixture GENERATOR's formulas
  // (header overheads from ImageHeaders, width/height from (doc_id,
  // byte length)) where Spark replays the header DECODER — agreement
  // proves the container round trip. All values non-negative, so
  // Spark's truncating div == DuckDB's floor //.
  private val decodeStatsSql =
    s"""WITH assets AS (
       |  SELECT
       |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
       |    CASE WHEN doc_id % 2 = 0 THEN ${ImageHeaders.PngOverhead}
       |         ELSE ${ImageHeaders.BmpOverhead} END
       |      + CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       |    4 + doc_id % 509 AS width,
       |    4 + CAST(octet_length(encode(text)) AS BIGINT) % 509 AS height,
       |    CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 24 END AS bit_depth
       |  FROM documents)
       |SELECT fmt, n_bytes // 256 AS size_bucket, COUNT(*) AS n_assets,
       |  CAST(SUM(width) AS BIGINT) AS sum_width,
       |  CAST(SUM(height) AS BIGINT) AS sum_height,
       |  CAST(MAX(bit_depth) AS BIGINT) AS bit_depth
       |FROM assets GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

}
