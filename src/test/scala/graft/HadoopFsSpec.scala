package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path => JPath}

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
    // the measured probes→recall table
    // persists at a path fingerprinted on the FIT parameters only —
    // the curve sweeps the budget axis, so the budget must not key its
    // location (the sized build changes the budget and must still find
    // the curve that sized it). A fit change still orphans the curve.
    val dir = tmpDir().toString
    val rows: Seq[graft.queries.GateCurve.Row] = Seq(
      (8, 713000L, 0.57, 0.41, 0.45), (16, 1430000L, 0.7782, 0.7146, 0.65))
    assert(graft.queries.GateCurve.Probe.read(dir).isEmpty)
    graft.queries.GateCurve.Probe.write(dir, rows)
    assert(graft.queries.GateCurve.Probe.path(dir).endsWith("/_sweep.json"))
    assert(graft.queries.GateCurve.Probe.path(dir)
      != graft.queries.GateCurve.Mass.path(dir),
      "probe and mass curves are different measurements with distinct homes")
    assert(graft.queries.GateCurve.Probe.read(dir).contains(rows))
  }

  test("mass sweep round-trips; recall-targeted sizing reads the persisted curves") {
    // GateCurve.cheapest is the P(n)-policy endpoint —
    // smallest measured budget meeting the recall target, None when the
    // curve is absent or never reaches it (no silent under-delivery)
    val dir = tmpDir().toString
    val probeRows: Seq[graft.queries.GateCurve.Row] = Seq(
      (16, 1430000L, 0.7782, 0.7146, 0.65), (8, 713000L, 0.57, 0.41, 0.45),
      (24, 2140000L, 0.89, 0.85, 0.81))
    val massRows: Seq[graft.queries.GateCurve.Row] = Seq(
      (0.2, 839988L, 0.6118, 0.4656, 0.4855),
      (0.35, 1440819L, 0.7811, 0.7166, 0.6505),
      (0.5, 2043242L, 0.8812, 0.8381, 0.7945))
    assert(graft.queries.GateCurve.Probe.cheapest(dir, 0.7).isEmpty)
    assert(graft.queries.GateCurve.Mass.cheapest(dir, 0.7).isEmpty)
    graft.queries.GateCurve.Probe.write(dir, probeRows)
    graft.queries.GateCurve.Mass.write(dir, massRows)
    assert(graft.queries.GateCurve.Mass.path(dir).endsWith("/_sweep.json"))
    assert(graft.queries.GateCurve.Mass.read(dir).contains(massRows))
    // smallest budget meeting the target, in budget order not file order
    assert(graft.queries.GateCurve.Probe.cheapest(dir, 0.70).contains(16))
    assert(graft.queries.GateCurve.Probe.cheapest(dir, 0.85).contains(24))
    assert(graft.queries.GateCurve.Probe.cheapest(dir, 0.95).isEmpty)
    assert(graft.queries.GateCurve.Mass.cheapest(dir, 0.70).contains(0.35))
    assert(graft.queries.GateCurve.Mass.cheapest(dir, 0.85).contains(0.5))
    assert(graft.queries.GateCurve.Mass.cheapest(dir, 0.95).isEmpty)
  }

  test("K-sweep curve round-trips beside the probe curve with the same staleness rule") {
    val dir = tmpDir().toString
    val rows: Seq[graft.queries.GateCurve.Row] = Seq(
      (71, 2800000L, 0.91, 0.88, 0.85), (142, 1400000L, 0.867, 0.806, 0.775),
      (284, 700000L, 0.78, 0.7, 0.66))
    assert(graft.queries.GateCurve.K.read(dir).isEmpty)
    graft.queries.GateCurve.K.write(dir, rows, probes = Some(16))
    assert(graft.queries.GateCurve.K.path(dir).endsWith("/_ksweep.json"))
    // the artifact records the probe budget it measured at
    assert(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(graft.queries.GateCurve.K.path(dir)).toPath), "UTF-8")
      .contains(""""probes":16"""))
    // shares the probe curve's fit-fingerprinted home, distinct file
    assert(new java.io.File(graft.queries.GateCurve.K.path(dir)).getParent
      == new java.io.File(graft.queries.GateCurve.Probe.path(dir)).getParent)
    assert(graft.queries.GateCurve.K.read(dir).contains(rows))
    // the committed curve shape is a
    // monotone cost/recall trade — the sqrt-n rule is undominated
    assert(graft.queries.VectorQueries.gateKRuleWarning(dir, 20164L).isEmpty,
      "an equivalence-shaped K curve must not flag the sqrt-n rule")
  }

  test("K-rule onboarding check flags a curve where another K dominates sqrt-n (VERDICT r15 item 7)") {
    val dir = tmpDir().toString
    // K=284 reaches MORE recall15 than the rule's own K=142 row at
    // HALF the candidate rows — this corpus's geometry breaks the
    // equal-scanned-mass equivalence, so onboarding must hear about it
    graft.queries.GateCurve.K.write(dir, Seq(
      (71, 2800000L, 0.91, 0.88, 0.85),
      (142, 1400000L, 0.80, 0.75, 0.72),
      (284, 700000L, 0.85, 0.80, 0.77)), probes = Some(16))
    val w = graft.queries.VectorQueries.gateKRuleWarning(dir, 20164L)
    assert(w.exists(_.contains("K=284 dominates K=142")), s"got $w")
  }

  test("sweep readers parse scientific-notation doubles and refuse curves older than the corpus") {
    val dirP = tmpDir()
    val dir = dirP.toString
    // Double.toString goes scientific below 1e-3
    // ("1.0E-4") — a reader that drops such rows silently truncates the
    // curve it certifies budgets from
    val rows: Seq[graft.queries.GateCurve.Row] =
      Seq((8, 713000L, 1.0E-4, 0.41, 0.45), (16, 1430000L, 0.78, 0.71, 0.65))
    graft.queries.GateCurve.Probe.write(dir, rows)
    assert(graft.queries.GateCurve.Probe.read(dir).contains(rows))
    assert(graft.queries.GateCurve.Probe.cheapest(dir, 0.5).contains(16))
    // same parameters + same path but a REGENERATED
    // source corpus must orphan the curve — stale measurements may
    // neither certify budgets nor raise floors
    val sweepF = new java.io.File(graft.queries.GateCurve.Probe.path(dir))
    touch(dirP.resolve("embeddings.parquet"), sweepF.lastModified + 60_000)
    assert(graft.queries.GateCurve.Probe.read(dir).isEmpty,
      "a sweep older than its corpus must read as absent")
    // refreshing the sweep AFTER the data change serves again
    sweepF.setLastModified(sweepF.lastModified + 120_000)
    assert(graft.queries.GateCurve.Probe.read(dir).contains(rows))
  }

  test("K-rule check requires dominance on ALL THREE measures (ADVICE r16)") {
    val dir = tmpDir().toString
    // K=284 beats the rule's row on recall15 with fewer candidates but
    // COLLAPSES recall22/agree25 — under the GateSecondaryMin
    // philosophy that is a trade, not a domination, and must not flag
    graft.queries.GateCurve.K.write(dir, Seq(
      (71, 2800000L, 0.91, 0.88, 0.85),
      (142, 1400000L, 0.80, 0.75, 0.72),
      (284, 700000L, 0.85, 0.40, 0.35)), probes = Some(16))
    assert(graft.queries.VectorQueries.gateKRuleWarning(dir, 20164L).isEmpty,
      "a recall15-only win with collapsed secondaries must not flag the sqrt-n rule")
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
