package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

import scala.util.hashing.MurmurHash3

/** The one owner of "which generation of a source fixture is this, and
  * is this derived layout complete?".
  *
  * A generation is a [[stamp]]: a manifest of the file, or of the part
  * files under the directory (relative names, sizes, newest mtime), read
  * through the Hadoop FS the operators use. Part files carry the
  * generation on every FS; a directory's own mtime does not (object
  * stores report 0), so it is never part of the stamp. Failure policy:
  * a path that cannot be stamped logs one WARN naming the path and the
  * exception and stamps [[Absent]] — every unstampable generation shares
  * that key, so a regeneration behind it goes unseen, and the WARN says
  * so.
  *
  * A disk layout under target/ (partitioned or bucketed tables, stored
  * rollups, generated asset dirs) is written once and reused across
  * JVMs through [[layout]]. Its directory is keyed by the generator
  * params AND the stamp of every source it reads: a changed constant or
  * a regenerated source builds a new directory instead of serving a
  * stale one (a stale layout surfaces as an oracle mismatch pointing
  * nowhere near the cause). A layout is complete iff its one marker,
  * `_GRAFT_SUCCESS`, exists. The marker is written last, so a write
  * that fails leaves none, and the next call clears the directory and
  * rebuilds.
  */
private[graft] object FixtureCache {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The stamp every unstampable path shares. */
  val Absent = "absent"

  private val Marker = "_GRAFT_SUCCESS"

  /** `<files>f-<names and sizes digest>-<newest mtime>` of `path`. Names
    * starting with `_` or `.` (markers, checksums, temporary dirs) are
    * not part files and are skipped, as Spark's readers skip them. The
    * walk is plain `listStatus`: `listFiles` would load permissions,
    * which the local FS does by forking one process per file.
    */
  def stamp(conf: Configuration, path: String): String = {
    val root = new Path(path)
    try {
      val fs = root.getFileSystem(conf)
      def parts(rel: String, st: FileStatus): Seq[(String, FileStatus)] =
        if (st.isFile) Seq(rel -> st)
        else fs.listStatus(st.getPath).toSeq
          .filterNot(c => c.getPath.getName.startsWith("_") ||
            c.getPath.getName.startsWith("."))
          .flatMap(c => parts(s"$rel/${c.getPath.getName}", c))
      val files = parts("", fs.getFileStatus(root))
      val names = files.map { case (n, f) => s"$n:${f.getLen}" }.sorted
      val mtime = files.map(_._2.getModificationTime).foldLeft(0L)(math.max)
      f"${files.size}f-${MurmurHash3.seqHash(names)}%08x-$mtime"
    } catch {
      case e: Exception =>
        log.warn(s"no generation stamp for $path ($e); it is keyed " +
          s"\"$Absent\", so a regeneration behind it will not be seen")
        Absent
    }
  }

  /** The layout `target/<kind>/<sfTag>_<fingerprint>`, built by `write`
    * (handed the directory) unless its marker says it is complete. The
    * 8-hex-digit fingerprint covers `params` and the [[stamp]] of every
    * source, a file or directory named relative to `sfDir` or absolute.
    * Each build logs one INFO line (kind, path, seconds).
    */
  def layout(spark: SparkSession, kind: String, sfDir: String,
      sources: Seq[String], params: (String, Any)*)(
      write: String => Unit): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val stamps = sources.map(s => s -> stamp(conf, new Path(sfDir, s).toString))
    val tag = new java.io.File(sfDir).getName.replace('.', '_')
    val fp = f"${MurmurHash3.stringHash(
      (params ++ stamps).map { case (k, v) => s"$k=$v" }.mkString(";"))}%08x"
    val dir = new java.io.File(s"target/$kind/${tag}_$fp").getAbsolutePath
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val marker = new Path(p, Marker)
    if (!fs.exists(marker)) {
      val t0 = System.nanoTime()
      fs.delete(p, true)
      write(dir)
      fs.create(marker, true).close()
      log.info(f"built $kind layout $dir in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    dir
  }
}
