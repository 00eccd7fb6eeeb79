package graft.queries

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Build-once staging for derived local artifacts (stream input drops, ANN
  * index builds) keyed by source CONTENT and published race-free.
  *
  * The cache key hashes each source file's name, length and full content —
  * not its mtime, so a fixture regenerated within filesystem mtime
  * resolution can never serve a stale artifact, and neither can a
  * same-length rewrite anywhere inside a file. Publication is a single
  * atomic rename of a privately-built temp dir (the `_staged` marker is
  * created BEFORE the rename, inside the temp dir), so a concurrent run
  * either sees the complete published artifact or none at all; the loser of
  * a publish race drops its private copy and reads the winner's, which is
  * bit-identical by construction (same content key => same deterministic
  * derivation).
  */
object Staging {

  private def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
  }

  private def contentKey(dir: String, srcFiles: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(dir.getBytes("UTF-8"))
    val buf = new Array[Byte](1 << 20)
    def hashFile(p: Path): Unit = {
      md.update(p.getFileName.toString.getBytes("UTF-8"))
      md.update(java.nio.ByteBuffer.allocate(8).putLong(Files.size(p)).array())
      val in = Files.newInputStream(p)
      try {
        var n = in.read(buf)
        while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
    srcFiles.foreach { f =>
      val p = Paths.get(dir, f)
      // a "table" may be a single parquet file (driver fixtures) or a
      // Spark-written DIRECTORY of part files (the local sf1 data): hash
      // every regular file inside, in name order, so the key stays a pure
      // function of table content either way
      if (Files.isDirectory(p)) {
        import scala.jdk.CollectionConverters._
        Files.walk(p).iterator().asScala
          .filter(Files.isRegularFile(_)).toSeq
          .sortBy(_.toString)
          .foreach(hashFile)
      } else if (Files.exists(p)) hashFile(p)
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Scratch root for PER-CALL iterative staging (LPA's symmetric edge
    * list, any future loop that round-trips working data through a lake
    * format). Resolution order: `spark.graft.scratch` (session conf), then
    * `SPARK_GRAFT_SCRATCH` (env), then `java.io.tmpdir`. On a real cluster
    * this MUST point at executor-visible shared storage (HDFS/S3) — a
    * driver-local path is only valid in local mode, which is why the seam
    * is a conf and not a constant. */
  def scratchRoot(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.getOption("spark.graft.scratch")
      .orElse(sys.env.get("SPARK_GRAFT_SCRATCH"))
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** Run `f` with a fresh scratch directory under [[scratchRoot]], then
    * delete it RECURSIVELY — unlike `deleteOnExit`, which cannot remove a
    * non-empty directory and so would leak GB-scale staged parquet on
    * every call. All filesystem traffic goes through the Hadoop FS API, so
    * the same code path works for file://, hdfs:// and s3a:// roots; the
    * value `f` returns must not lazily depend on files inside the scratch
    * dir (checkpoint or collect before returning). */
  def withScratch[T](spark: org.apache.spark.sql.SparkSession, tag: String)
      (f: String => T): T = {
    val root = new org.apache.hadoop.fs.Path(scratchRoot(spark))
    val dir = new org.apache.hadoop.fs.Path(root,
      s"graft_scratch_${tag}_${java.util.UUID.randomUUID().toString.take(13)}")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    try f(dir.toString)
    finally fs.delete(dir, true)
  }

  /** Run `build` into a private temp dir and atomically publish it as
    * tmpdir/<root>/<tag>_<contentKey>; if that artifact already exists,
    * return it without building. Returns the published dir. */
  def stageDir(root: String, tag: String, dir: String, srcFiles: Seq[String])
      (build: Path => Unit): Path = {
    val base = Paths.get(System.getProperty("java.io.tmpdir"), root)
    Files.createDirectories(base)
    val finalDir = base.resolve(s"${tag}_${contentKey(dir, srcFiles)}")
    val marker = finalDir.resolve("_staged")
    if (!Files.exists(marker)) {
      val tmp = Files.createTempDirectory(base, s".${tag}_")
      build(tmp)
      Files.createFile(tmp.resolve("_staged"))
      var published = false
      var attempts = 0
      while (!published && !Files.exists(marker) && attempts < 3) {
        attempts += 1
        try {
          Files.move(tmp, finalDir, StandardCopyOption.ATOMIC_MOVE)
          published = true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException
             | _: java.nio.file.DirectoryNotEmptyException =>
            // either a concurrent run published (marker now exists — done) or
            // a corrupt incomplete leftover blocks the name: clear and retry
            if (!Files.exists(marker)) deleteRecursively(finalDir)
        }
      }
      if (!published) deleteRecursively(tmp)
      require(Files.exists(marker), s"stage publish failed for $finalDir")
    }
    finalDir
  }
}
