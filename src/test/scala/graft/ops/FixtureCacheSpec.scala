package graft.ops

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the FixtureCache.layout contract: a layout is keyed by the
  * generation of every source it reads, so a regenerated source builds
  * a new layout instead of serving the stale one (previously
  * ScanPruning's dpp_tables and Lifecycle's shard_export were keyed by
  * their params only); unchanged sources and params reuse the layout
  * without rewriting it; and a write that fails leaves no marker, so
  * the next call clears the directory and rebuilds.
  */
class FixtureCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkTestSession.spark
  private val testdata = s"${sys.props("user.home")}/testdata/sf0.001"

  /** temp SF dirs and the layouts built from them, removed after the run */
  private val scratch = collection.mutable.ArrayBuffer.empty[String]
  private def built(path: String): String = { scratch += path; path }

  override def afterAll(): Unit = {
    scratch.foreach(p => org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(p)))
    super.afterAll()
  }

  /** A writable SF dir holding copies of the named testdata tables. */
  private def sfCopy(tables: String*): String = {
    val sf = Files.createTempDirectory("fixture_cache_spec").resolve("sf_copy")
    Files.createDirectories(sf)
    built(sf.getParent.toString)
    tables.foreach(t => Files.write(sf.resolve(t),
      Files.readAllBytes(java.nio.file.Paths.get(testdata, t))))
    sf.toString
  }

  /** Regenerates `sf/table` in place as the rows of the original that
    * pass `keep`: one parquet file, as the testdata tables are.
    */
  private def regenerate(sf: String, table: String, keep: Column): Unit = {
    val out = Files.createTempDirectory("fixture_cache_regen").resolve("t")
    built(out.getParent.toString)
    spark.read.parquet(s"$testdata/$table").filter(keep).coalesce(1)
      .write.parquet(out.toString)
    val part = Files.list(out).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.write(java.nio.file.Paths.get(sf, table), Files.readAllBytes(part))
  }

  /** `df`'s rows over `like`'s columns and types, as sorted strings. */
  private def rowsAs(df: DataFrame, like: DataFrame): Seq[String] =
    df.select(like.schema.map(f => col(f.name).cast(f.dataType)): _*)
      .collect().map(_.mkString("|")).toSeq.sorted

  private def rows(df: DataFrame): Seq[String] = rowsAs(df, df)

  test("a regenerated customer rebuilds ScanPruning's partitioned layout") {
    val sf = sfCopy("customer.parquet")
    def source = spark.read.parquet(s"$sf/customer.parquet")
    val before = built(ScanPruning.partitionedCustomerPath(spark, sf))
    assert(rowsAs(spark.read.parquet(before), source) === rows(source))
    regenerate(sf, "customer.parquet", col("c_custkey") % 3 === 0)
    val after = built(ScanPruning.partitionedCustomerPath(spark, sf))
    assert(after !== before)
    assert(rowsAs(spark.read.parquet(after), source) === rows(source),
      "the layout must hold the regenerated customer rows")
  }

  test("regenerated documents rebuild Lifecycle's shard export") {
    val sf = sfCopy("documents.parquet")
    def source = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "n_chars")
    val before = built(Lifecycle.shardExportPath(spark, sf))
    assert(rowsAs(spark.read.parquet(before), source) === rows(source))
    regenerate(sf, "documents.parquet", col("doc_id") % 3 === 0)
    val after = built(Lifecycle.shardExportPath(spark, sf))
    assert(after !== before)
    assert(rowsAs(spark.read.parquet(after), source) === rows(source),
      "the export must hold the regenerated documents")
  }

  test("unchanged sources and params reuse the layout; write runs once") {
    val sf = sfCopy("customer.parquet")
    var writes = 0
    def build(v: Int) = built(FixtureCache.layout(spark, "fixture_cache_spec",
        sf, Seq("customer.parquet"), "v" -> v) { p =>
      writes += 1
      spark.read.parquet(s"$sf/customer.parquet").write.parquet(p)
    })
    val a = build(1)
    assert(build(1) === a)
    assert(writes === 1)
    assert(new java.io.File(a, "_GRAFT_SUCCESS").exists())
    assert(build(2) !== a, "a changed param must key a new layout")
    assert(writes === 2)
  }

  test("a failed write leaves no marker; the next call clears and rebuilds") {
    val sf = sfCopy("customer.parquet")
    val kind = "fixture_cache_spec_fail"
    var seen = ""
    val err = intercept[IllegalStateException] {
      FixtureCache.layout(spark, kind, sf, Seq("customer.parquet")) { p =>
        seen = built(p)
        // a partial write: stale part files land, then the build fails
        spark.read.parquet(s"$sf/customer.parquet").write.parquet(p)
        throw new IllegalStateException("write failed")
      }
    }
    assert(err.getMessage === "write failed")
    assert(new java.io.File(seen).isDirectory)
    assert(!new java.io.File(seen, "_GRAFT_SUCCESS").exists(),
      "a failed write must not leave a marker")
    val subset = spark.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_custkey") % 5 === 0)
    val path = FixtureCache.layout(spark, kind, sf, Seq("customer.parquet")) { p =>
      // append: had the stale part files survived, they would be read
      subset.write.mode("append").parquet(p)
    }
    assert(path === seen)
    assert(new java.io.File(path, "_GRAFT_SUCCESS").exists())
    assert(rows(spark.read.parquet(path)) === rows(subset),
      "the rebuilt layout must not serve the failed write's part files")
  }
}
