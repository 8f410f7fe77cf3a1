package graft.ops

import java.net.URI
import java.nio.file.Files

import graft.SparkTestSession
import graft.plans.MvRewrite
import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

/** The local FS under the test-only `mtime0` scheme, reporting mtime 0
  * for directories the way S3A does: a directory's own mtime never
  * changes, so only its part files can tell one generation from the
  * next.
  */
class DirMtimeZeroFs extends FilterFileSystem(new RawLocalFileSystem {
      override def getUri: URI = URI.create("mtime0:///")
    }) {
  override def getScheme: String = "mtime0"

  private def zeroDir(s: FileStatus): FileStatus =
    if (!s.isDirectory) s
    else new FileStatus(s.getLen, true, s.getReplication, s.getBlockSize,
      0L, s.getPath)

  override def getFileStatus(p: Path): FileStatus =
    zeroDir(super.getFileStatus(p))

  override def listStatus(p: Path): Array[FileStatus] =
    super.listStatus(p).map(zeroDir)
}

/** Generation stamps on a non-local Hadoop FS: rewriting a part file
  * inside a directory fixture is a new generation for FixtureCache.stamp,
  * SubstrateCache and the MV catalog's stampFor alike, even where the directory
  * reports no mtime of its own.
  */
class ObjectStoreStampSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("a rewritten part file is a new generation on an FS without dir mtimes") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mtime0.impl", classOf[DirMtimeZeroFs].getName)
    val local = Files.createTempDirectory("object_store_stamp_spec")
    try {
      val fixture = Files.createDirectory(local.resolve("fix.parquet"))
      val part = fixture.resolve("part-00000.parquet")
      Files.write(part, Array[Byte](1))
      val dir = s"mtime0://${local.toUri.getPath}"
      val fixturePath = new Path(dir, "fix.parquet")
      val fs = fixturePath.getFileSystem(conf)
      assert(fs.getFileStatus(fixturePath).getModificationTime === 0L,
        "the FS under test must hide directory mtimes")

      val cache = new SubstrateCache[String]("fix.parquet", _ => ())
      val stamp1 = FixtureCache.stamp(conf, fixturePath.toString)
      val mvCatalog = MvRewrite.catalog(spark)
      val mv1 = mvCatalog.stampFor(fixturePath.toString)
      assert(cache.get(spark, dir)("gen1") === "gen1")
      assert(stamp1 !== FixtureCache.Absent)

      // rewrite the part file in place: new content, later mtime
      Files.write(part, Array[Byte](2, 2))
      part.toFile.setLastModified(part.toFile.lastModified() + 10000L)
      assert(fs.getFileStatus(fixturePath).getModificationTime === 0L)

      assert(FixtureCache.stamp(conf, fixturePath.toString) !== stamp1)
      assert(cache.get(spark, dir)("gen2") === "gen2",
        "the substrate of the replaced part file must be rebuilt")
      assert(cache.liveKeys.size === 1, "the stale generation must be evicted")
      Thread.sleep(1100) // past stampFor's 1 s TTL
      assert(mvCatalog.stampFor(fixturePath.toString) !== mv1)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(local.toFile)
  }
}
