package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path => JPath}

import queries.GateCurve

/** Probe semantics for sources.HadoopFs — the one place index staleness
  * (qd6b/qe5b) and streaming history listing answer "is it there, is it
  * fresh". Local-FS backed (the FileSystem API is the same object
  * stores resolve through).
  */
class HadoopFsSpec extends AnyFunSuite {
  import SparkSpecBase.spark
  private def conf = spark.sparkContext.hadoopConfiguration

  private def tmpDir(): JPath = Files.createTempDirectory("graft_fs")

  private def touch(p: JPath, mtimeMs: Long): Unit = {
    if (!Files.exists(p)) Files.createFile(p)
    Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
  }

  test("newestMtime sees files nested under partition subdirs") {
    val d = tmpDir()
    val base = 1_700_000_000_000L
    touch(d.resolve("a.parquet"), base)
    val part = Files.createDirectories(d.resolve("ds=2024-01-02"))
    touch(part.resolve("part-0.parquet"), base + 60_000)
    // the newest file is NOT a direct child — a Hive-partitioned rewrite
    // on an object store bumps only the leaf, never the parent "dir"
    Files.setLastModifiedTime(part,
      java.nio.file.attribute.FileTime.fromMillis(base))
    Files.setLastModifiedTime(d,
      java.nio.file.attribute.FileTime.fromMillis(base))
    assert(sources.HadoopFs.newestMtime(conf, d.toString) == base + 60_000)
  }

  test("indexStale: missing, older and SAME-TICK indexes rebuild; newer serves") {
    val src = tmpDir()
    val idx = tmpDir()
    val base = 1_700_000_000_000L
    touch(src.resolve("data.parquet"), base)
    Files.setLastModifiedTime(src,
      java.nio.file.attribute.FileTime.fromMillis(base))
    // missing _SUCCESS → stale
    assert(sources.HadoopFs.indexStale(conf, idx.toString, src.toString))
    // index older than source → stale
    touch(idx.resolve("_SUCCESS"), base - 1)
    assert(sources.HadoopFs.indexStale(conf, idx.toString, src.toString))
    // SAME mtime tick → stale (coarse-granularity filesystems cannot
    // order same-tick writes; a spurious rebuild beats a stale serve)
    touch(idx.resolve("_SUCCESS"), base)
    assert(sources.HadoopFs.indexStale(conf, idx.toString, src.toString))
    // strictly newer → fresh
    touch(idx.resolve("_SUCCESS"), base + 1)
    assert(!sources.HadoopFs.indexStale(conf, idx.toString, src.toString))
  }

  test("gate sweep curve round-trips through _sweep.json in the fit-fingerprinted dir") {
    // the measured mass→recall table persists at a path fingerprinted
    // on the FIT parameters only — the curve sweeps the budget axis, so
    // the budget must not key its location (the sized build changes the
    // budget and must still find the curve that sized it). A fit change
    // still orphans the curve.
    val dir = tmpDir().toString
    val rows: Seq[GateCurve.Row] = Seq(
      (0.2, 839988L, 0.6118, 0.4656, 0.4855), (0.35, 1440819L, 0.7811, 0.7166, 0.6505))
    assert(GateCurve.read(dir).isEmpty)
    GateCurve.write(dir, rows)
    assert(GateCurve.path(dir).endsWith("/_sweep.json"))
    assert(GateCurve.read(dir).contains(rows))
  }

  test("mass sweep round-trips; recall-targeted sizing reads the persisted curves") {
    // GateCurve.cheapest is the sizing policy's endpoint — smallest
    // measured budget meeting the recall target, None when the curve is
    // absent or never reaches it (no silent under-delivery)
    val dir = tmpDir().toString
    val massRows: Seq[GateCurve.Row] = Seq(
      (0.35, 1440819L, 0.7811, 0.7166, 0.6505),
      (0.2, 839988L, 0.6118, 0.4656, 0.4855),
      (0.5, 2043242L, 0.8812, 0.8381, 0.7945))
    assert(GateCurve.cheapest(dir, 0.7).isEmpty)
    GateCurve.write(dir, massRows)
    assert(GateCurve.read(dir).contains(massRows))
    // smallest budget meeting the target, in budget order not file order
    assert(GateCurve.cheapest(dir, 0.70).contains(0.35))
    assert(GateCurve.cheapest(dir, 0.85).contains(0.5))
    assert(GateCurve.cheapest(dir, 0.95).isEmpty)
  }

  test("sweep readers parse scientific-notation doubles and refuse curves older than the corpus") {
    val dirP = tmpDir()
    val dir = dirP.toString
    // Double.toString goes scientific below 1e-3
    // ("1.0E-4") — a reader that drops such rows silently truncates the
    // curve it certifies budgets from
    val rows: Seq[GateCurve.Row] =
      Seq((1.0E-4, 713000L, 1.0E-4, 0.41, 0.45), (0.35, 1430000L, 0.78, 0.71, 0.65))
    GateCurve.write(dir, rows)
    assert(GateCurve.read(dir).contains(rows))
    assert(GateCurve.cheapest(dir, 0.5).contains(0.35))
    // same parameters + same path but a REGENERATED
    // source corpus must orphan the curve — stale measurements may
    // neither certify budgets nor raise floors
    val sweepF = new java.io.File(GateCurve.path(dir))
    touch(dirP.resolve("embeddings.parquet"), sweepF.lastModified + 60_000)
    assert(GateCurve.read(dir).isEmpty,
      "a sweep older than its corpus must read as absent")
    // refreshing the sweep AFTER the data change serves again
    sweepF.setLastModified(sweepF.lastModified + 120_000)
    assert(GateCurve.read(dir).contains(rows))
  }

  test("indexPath keys on the compiled code: stable per JVM, a hash of the class bytes, other keys not served") {
    import sources.HadoopFs
    // the test-side hash: every .class file below graft/ under the code
    // source, in relative-path order, path + 0 byte + bytes, CRC-32C
    val root = java.nio.file.Paths.get(
      HadoopFs.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val walk = Files.walk(root.resolve("graft"))
    val classes = try walk.toArray.map(_.asInstanceOf[JPath])
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".class"))
      .map(p => root.relativize(p).toString.replace(java.io.File.separatorChar, '/') -> p)
      .sortBy(_._1) finally walk.close()
    assert(classes.nonEmpty)
    val crc = new java.util.zip.CRC32C()
    for ((name, p) <- classes) {
      crc.update(name.getBytes("UTF-8"))
      crc.update(0)
      crc.update(Files.readAllBytes(p))
    }
    assert(HadoopFs.codeFingerprint == f"${crc.getValue}%08x")
    // the same classes packaged as a jar key alike
    val jar = Files.createTempFile("graft_code", ".jar")
    val out = new java.util.jar.JarOutputStream(Files.newOutputStream(jar))
    try for ((name, p) <- classes.reverse) {
      out.putNextEntry(new java.util.jar.JarEntry(name))
      out.write(Files.readAllBytes(p))
      out.closeEntry()
    } finally out.close()
    assert(HadoopFs.codeFingerprintOf(jar.toFile) == HadoopFs.codeFingerprint)
    Files.delete(jar)
    // memoized: a recomputation over the same classes agrees
    assert(HadoopFs.codeFingerprintOf(root.toFile) == HadoopFs.codeFingerprint)
    val data = tmpDir()
    touch(data.resolve("embeddings.parquet"), 1_700_000_000_000L)
    val dir = data.toString
    assert(HadoopFs.indexPath("probe", dir, 1) == HadoopFs.indexPath("probe", dir, 1))
    var builds = 0
    val ix = sources.PersistedIndex("probe", "embeddings", "w",
      d => HadoopFs.indexPath("probe", d, 1), (_, _, p) => {
        builds += 1
        touch(Files.createDirectories(java.nio.file.Paths.get(s"$p/w")).resolve("_SUCCESS"),
          System.currentTimeMillis())
      })
    // a fresh-looking index written under another code key
    val other = s"${sys.props("java.io.tmpdir")}/graft_probe_" +
      s"${HadoopFs.paramFingerprint(1, "0ther0k3")}_${HadoopFs.dirSlug(dir)}"
    touch(Files.createDirectories(java.nio.file.Paths.get(s"$other/w")).resolve("_SUCCESS"),
      System.currentTimeMillis())
    try {
      assert(ix.path(dir) != other)
      assert(!ix.fresh(spark, dir), "an index planted under another code key must not be served")
      assert(ix.ensure(spark, dir) == ix.path(dir) && builds == 1)
      assert(ix.fresh(spark, dir))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(other))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ix.path(dir)))
    }
  }

  test("dirSlug: clean local paths normalize; URI-style dirs keep their raw slug (ADVICE r16)") {
    assert(sources.HadoopFs.dirSlug("/root/testdata/sf0.01") == "_root_testdata_sf0_01")
    // normalization is identity-preserving noise removal for local paths
    assert(sources.HadoopFs.dirSlug("/root/testdata/./sf0.01/") ==
      sources.HadoopFs.dirSlug("/root/testdata/sf0.01"))
    // a URI's "//" must NOT collapse — the original raw form is the
    // committed identity for remote roots
    assert(sources.HadoopFs.dirSlug("hdfs://nn:8020/data/sf1") ==
      "hdfs___nn_8020_data_sf1")
    assert(sources.HadoopFs.dirSlug("s3a://bucket/corpus") == "s3a___bucket_corpus")
  }

  test("contentKey: totalBytes + fileCount + maxFileBytes; absent/empty corpora have no identity") {
    val d = tmpDir()
    assert(sources.HadoopFs.contentKey(conf, d.resolve("nope").toString).isEmpty)
    val corpus = Files.createDirectory(d.resolve("t.parquet"))
    assert(sources.HadoopFs.contentKey(conf, corpus.toString).isEmpty,
      "empty dir has no identity")
    Files.write(corpus.resolve("part-0"), Array.fill[Byte](1000)(1))
    Files.write(corpus.resolve("part-1"), Array.fill[Byte](234)(1))
    assert(sources.HadoopFs.contentKey(conf, corpus.toString).contains("1234b2f1000"))
    // single-file parquet (the testdata shape) keys on the file itself
    val f = d.resolve("single.parquet")
    Files.write(f, Array.fill[Byte](77)(1))
    assert(sources.HadoopFs.contentKey(conf, f.toString).contains("77b1f77"))
  }
}
