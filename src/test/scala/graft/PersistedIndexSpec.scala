package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.PersistedIndex

/** The registry-wide contract of [[PersistedIndex]]: every family's
  * staleness witness is the part its build writes last, so a build that
  * dies between two writes can never leave an index that reads as fresh.
  */
class PersistedIndexSpec extends AnyFunSuite {
  import SparkSpecBase.spark

  /** Regular files under `f`, without Hadoop's hidden `.crc` sidecars. */
  private def dataFiles(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(dataFiles)
    else if (f.getName.startsWith(".")) Nil
    else Seq(f)

  test("every family's witness _SUCCESS is its newest file after a cold build") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pi").toFile
    for (t <- Seq("documents", "embeddings"))
      FileUtils.copyFile(new File(s"${SparkSpecBase.sf}/$t.parquet"),
        new File(dir, s"$t.parquet"))
    val d = dir.getPath
    val all = PersistedIndex.all
    try {
      assert(all.map(_.name).distinct.size == 8)
      all.foreach(ix => assert(!ix.fresh(spark, d), s"${ix.name} not cold"))
      all.foreach(_.ensure(spark, d))
      val torn = all.flatMap { ix =>
        val root = new File(ix.path(d))
        val success = new File(root, s"${ix.witness}/_SUCCESS")
        assert(success.exists(), s"${ix.name}: no ${ix.witness}/_SUCCESS")
        assert(ix.fresh(spark, d), s"${ix.name} stale right after its build")
        dataFiles(root).filter(_.lastModified > success.lastModified)
          .map(f => s"${ix.name}: ${root.toPath.relativize(f.toPath)}")
      }
      assert(torn.isEmpty, s"files written after the witness: ${torn.mkString(", ")}")
    } finally {
      all.foreach(ix => FileUtils.deleteQuietly(new File(ix.path(d))))
      FileUtils.deleteQuietly(dir)
    }
  }
}
