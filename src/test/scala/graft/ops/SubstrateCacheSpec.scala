package graft.ops

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the SubstrateCache contract the session substrates rely on:
  * same-generation hits return the identical value; a fixture
  * regeneration (mtime change) rebuilds; and the superseded
  * generation's entry is REMOVED and its persisted blocks released —
  * the round-8 verdict's item 5 (previously only Concentration's
  * cache evicted; Graph/Similarity/Dedup leaked superseded persisted
  * blocks for the session lifetime).
  */
class SubstrateCacheSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def tempFixtureDir(): java.io.File = {
    val d = java.nio.file.Files
      .createTempDirectory("substrate_cache_spec").toFile
    d.deleteOnExit()
    d
  }

  private def touch(dir: java.io.File, mtime: Long): Unit = {
    val f = new java.io.File(dir, "fix.parquet")
    if (!f.exists()) f.createNewFile()
    f.setLastModified(mtime)
  }

  test("same generation hits; build runs once") {
    import spark.implicits._
    val dir = tempFixtureDir()
    touch(dir, 1000000L)
    val cache = SubstrateCache.frame("fix.parquet")
    var builds = 0
    def build() = { builds += 1; Seq(1, 2, 3).toDF("x").persist() }
    val a = cache.get(spark, dir.toString)(build())
    val b = cache.get(spark, dir.toString)(build())
    assert(a eq b)
    assert(builds === 1)
    assert(cache.liveKeys.size === 1)
    a.unpersist()
  }

  test("fixture regeneration rebuilds, evicts and unpersists the stale generation") {
    import spark.implicits._
    val dir = tempFixtureDir()
    touch(dir, 1000000L)
    val cache = SubstrateCache.frame("fix.parquet")
    val gen1 = cache.get(spark, dir.toString)(
      Seq(1).toDF("x").persist())
    gen1.count()
    assert(gen1.storageLevel.useMemory, "gen1 must be persisted")
    touch(dir, 2000000L) // the driver regenerated fixtures mid-run
    val gen2 = cache.get(spark, dir.toString)(
      Seq(2).toDF("x").persist())
    assert(!(gen1 eq gen2))
    assert(cache.liveKeys.size === 1, "stale generation must be evicted")
    assert(gen1.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "stale generation's blocks must be released eagerly")
    assert(gen2.collect().map(_.getInt(0)).toSeq === Seq(2))
    gen2.unpersist()
  }

  test("different SF dirs coexist — eviction is per (application, dir)") {
    import spark.implicits._
    val d1 = tempFixtureDir(); touch(d1, 1000000L)
    val d2 = tempFixtureDir(); touch(d2, 1000000L)
    val cache = SubstrateCache.frame("fix.parquet")
    val a = cache.get(spark, d1.toString)(Seq(1).toDF("x"))
    val b = cache.get(spark, d2.toString)(Seq(2).toDF("x"))
    assert(cache.liveKeys.size === 2)
    touch(d1, 3000000L)
    cache.get(spark, d1.toString)(Seq(3).toDF("x"))
    assert(cache.liveKeys.size === 2,
      "regenerating d1 must not evict d2's generation")
    assert(b.collect().map(_.getInt(0)).toSeq === Seq(2))
    assert(a.collect().map(_.getInt(0)).toSeq === Seq(1))
  }

  test("the three span queries share ONE diagonal-substrate build per session") {
    // tx_span_dedup, dd_substring_span and dd_span_guarantee all
    // consume Dedup.spanDiagonals — the expensive seed-and-extend scan
    // must be built once per (session, dir) and REUSED, not rebuilt per
    // query (round-10 verdict item 6)
    val dir = "/root/testdata/sf0.001"
    val d1 = Dedup.spanDiagonals(spark, dir)
    assert(Dedup.spanDiagonals(spark, dir) eq d1,
      "second lookup must return the identical cached frame")
    for (q <- Seq("dd_substring_span", "dd_span_guarantee", "tx_span_dedup"))
      graft.SparkEntry.queries(q)(spark, dir).collect()
    assert(Dedup.spanDiagonals(spark, dir) eq d1,
      "running the three span consumers must not rebuild the substrate")
  }

  test("framePair releases both members on eviction") {
    import spark.implicits._
    val dir = tempFixtureDir()
    touch(dir, 1000000L)
    val cache = SubstrateCache.framePair("fix.parquet")
    val (p1, p2) = cache.get(spark, dir.toString)(
      (Seq(1).toDF("x").persist(), Seq(2).toDF("y").persist()))
    p1.count(); p2.count()
    touch(dir, 2000000L)
    cache.get(spark, dir.toString)(
      (Seq(3).toDF("x"), Seq(4).toDF("y")))
    assert(p1.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    assert(p2.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
  }

  test("a missing fixture stamps \"absent\" and logs a WARN naming its path") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val warnings = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val appender = new AbstractAppender("substrate-cache-spec", null, null,
        true, Array.empty) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) warnings.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(FixtureCache.getClass).asInstanceOf[Logger]
    logger.addAppender(appender)
    try {
      val dir = tempFixtureDir() // no fix.parquet in it
      val cache = new SubstrateCache[Int]("fix.parquet", _ => ())
      assert(cache.get(spark, dir.toString)(1) === 1)
      assert(cache.liveKeys.forall(_.endsWith("@absent")), cache.liveKeys)
      val missing = new java.io.File(dir, "fix.parquet").toString
      assert(warnings.size === 1, warnings)
      assert(warnings.get(0).contains(missing), warnings)
      assert(warnings.get(0).contains("FileNotFoundException"), warnings)
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  test("a hit that fails its validity check is evicted and rebuilt") {
    val dir = tempFixtureDir(); touch(dir, 1000000L)
    val cache = new SubstrateCache[String]("fix.parquet", _ => ())
    var builds = 0
    def build() = { builds += 1; s"v$builds" }
    assert(cache.get(spark, dir.toString)(build()) === "v1")
    assert(cache.get(spark, dir.toString, (_: String) => true)(build()) === "v1")
    assert(cache.get(spark, dir.toString, (_: String) => false)(build()) === "v2")
    assert(cache.liveKeys.size === 1)
  }
}
