package graft.queries

import java.nio.file.{Files, Path, Paths}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The staging cache key is a pure function of source content: a changed
  * byte anywhere publishes a new artifact, unchanged content reuses the
  * published one without rebuilding. */
class StagingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val root = s"graft_staging_spec_${java.util.UUID.randomUUID().toString.take(8)}"
  private val src = Files.createTempDirectory("graft_staging_src")

  override def afterAll(): Unit = {
    import scala.jdk.CollectionConverters._
    Seq(src, Paths.get(System.getProperty("java.io.tmpdir"), root)).foreach { d =>
      if (Files.exists(d))
        Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  /** Stage `files` of the source dir; returns the published dir and
    * whether `build` ran. */
  private def stage(files: String*): (Path, Boolean) = {
    var built = false
    val out = Staging.stageDir(root, "t", src.toString, files) { tmp =>
      built = true
      Files.write(tmp.resolve("out"), Array[Byte](1))
    }
    (out, built)
  }

  test("a same-length rewrite in the middle of a 3 MiB file publishes a new directory") {
    val bytes = Array.tabulate[Byte](3 << 20)(i => (i * 31).toByte)
    Files.write(src.resolve("big.parquet"), bytes)
    val (first, built1) = stage("big.parquet")
    assert(built1)
    bytes(3 << 19) = (bytes(3 << 19) ^ 1).toByte // one bit, 1.5 MiB in
    Files.write(src.resolve("big.parquet"), bytes)
    val (second, built2) = stage("big.parquet")
    assert(built2)
    assert(second !== first)
  }

  test("identical content reuses the published directory without building") {
    Files.write(src.resolve("small.parquet"), "abc".getBytes("UTF-8"))
    val (first, built1) = stage("small.parquet")
    assert(built1)
    Files.write(src.resolve("small.parquet"), "abc".getBytes("UTF-8"))
    val (second, built2) = stage("small.parquet")
    assert(!built2)
    assert(second === first)
  }

  test("a directory table is keyed by its part files") {
    val table = Files.createDirectories(src.resolve("table.parquet"))
    Files.write(table.resolve("part-0"), "aaaa".getBytes("UTF-8"))
    Files.write(table.resolve("part-1"), "bbbb".getBytes("UTF-8"))
    val (first, _) = stage("table.parquet")
    Files.write(table.resolve("part-1"), "bbbc".getBytes("UTF-8"))
    val (second, built2) = stage("table.parquet")
    assert(built2)
    assert(second !== first)
    Files.write(table.resolve("part-2"), "cccc".getBytes("UTF-8"))
    val (third, built3) = stage("table.parquet")
    assert(built3)
    assert(third !== second)
    assert(third !== first)
  }
}
