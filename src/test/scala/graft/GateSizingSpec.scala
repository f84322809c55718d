package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path => JPath}

import queries.{GateCurve, GateRule, VectorQueries}

/** Recall-targeted gate sizing: the persisted
  * sweep curves now DRIVE the production builds. Both arms pinned:
  *
  *  - planted current curve → the build resolves the cheapest budget
  *    the curve certifies at the target, the index fingerprint moves,
  *    and the dumped oracle SQL interpolates the SAME budget;
  *  - no curve / stale curve / curve that never reaches the target →
  *    the documented static constants, byte-identical oracle SQL to
  *    the static map.
  *
  * Resolution is memoized per JVM (one Verify process must build and
  * dump against the same numbers), so every test clears the cache at
  * its boundaries.
  */
class GateSizingSpec extends AnyFunSuite {

  private def tmpDir(): JPath = Files.createTempDirectory("graft_sizing")

  /** `graft.curve.registry` is a JVM-global system
    * property — any test that points it at a temp dir must hold this
    * lock for the whole set→use→clear span, so a parallel suite can
    * never observe (or race another mutation of) the redirected
    * registry mid-test. Shared here because this spec is the only
    * mutator today; a future spec that redirects the registry must
    * synchronize on [[GateSizingSpec.registryPropLock]] too.
    */
  private def withRegistryProp[A](dir: String)(body: => A): A =
    GateSizingSpec.registryPropLock.synchronized {
      System.setProperty("graft.curve.registry", dir)
      try body
      finally System.clearProperty("graft.curve.registry")
    }

  private def touch(p: JPath, mtimeMs: Long): Unit = {
    if (!Files.exists(p)) Files.createFile(p)
    Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
  }

  // sf0.1-shaped curves: P=8 misses 0.70, P=16/24 clear it; mass 0.2
  // misses, 0.35/0.5 clear — so at the default target the resolutions
  // reproduce the production constants (the tuned-corpus identity).
  private val sf01Probe: Seq[GateCurve.Row] = Seq(
    (8, 713160L, 0.5658, 0.4109, 0.4475),
    (16, 1425810L, 0.7782, 0.7146, 0.65),
    (24, 2138598L, 0.8924, 0.8543, 0.81))
  // sf0.01-shaped curve: P=8 already clears 0.70 → sized build is
  // CHEAPER than the constant.
  private val sf001Probe: Seq[GateCurve.Row] = Seq(
    (8, 90527L, 0.7376, 0.6304, 0.596),
    (16, 177485L, 0.9452, 0.9348, 0.902))
  private val sf01Mass: Seq[GateCurve.Row] = Seq(
    (0.2, 839988L, 0.6118, 0.4656, 0.4855),
    (0.35, 1440819L, 0.7811, 0.7166, 0.6505),
    (0.5, 2043242L, 0.8812, 0.8381, 0.7945))
  // (the 0.2 row's secondaries sit above GateSecondaryMin — a row
  // that cleared recall15 but collapsed a secondary would no longer
  // certify; that arm has its own test below)
  private val sf001Mass: Seq[GateCurve.Row] = Seq(
    (0.2, 55365L, 0.7052, 0.5672, 0.522),
    (0.35, 92619L, 0.7448, 0.6377, 0.606))

  test("no curve → static constants; oracle matches the static map byte-for-byte") {
    VectorQueries.clearGateSizing()
    val dir = tmpDir().toString
    assert(GateRule.Fixed.resolved(dir) == VectorQueries.GateProbes)
    assert(GateRule.Mass.resolved(dir) == VectorQueries.GateMassFrac)
    val sized = VectorQueries.gateOracle(Some(dir))
    val static = VectorQueries.gateOracle(None)
    assert(sized == static,
      "with no persisted curve the dir-aware oracle must equal the constant arm")
    VectorQueries.clearGateSizing()
  }

  test("planted curve sizes the build: cheaper certified budget, moved fingerprint, matching oracle") {
    VectorQueries.clearGateSizing()
    val dir = tmpDir().toString
    val constantIndex = GateRule.Fixed.index.path(dir)
    val constantMassIndex = GateRule.Mass.index.path(dir)
    VectorQueries.clearGateSizing()
    GateCurve.Probe.write(dir, sf001Probe)
    GateCurve.Mass.write(dir, sf001Mass)
    // cheapest certified at the 0.70 default: P=8 (0.7376), frac=0.35
    // (0.7448; 0.2's 0.7052 also clears — so 0.2 wins)
    assert(GateRule.Fixed.resolved(dir) == 8)
    assert(GateRule.Mass.resolved(dir) == 0.2)
    // the sized index lives in its own fingerprinted dir — the constant
    // build is orphaned, never served
    assert(GateRule.Fixed.index.path(dir) != constantIndex)
    assert(GateRule.Mass.index.path(dir) != constantMassIndex)
    // the dump-time oracle interpolates the SAME resolved budgets
    val sql = VectorQueries.gateOracle(Some(dir))
    assert(sql("qe15b_gated_density").contains("af.rk <= 8"))
    assert(!sql("qe15b_gated_density").contains("af.rk <= 16"))
    assert(sql("qe15c_massgated_density").contains("CAST(0.2 AS DOUBLE)"))
    // the static arm still carries the constants
    val static = VectorQueries.gateOracle(None)
    assert(static("qe15b_gated_density").contains(s"af.rk <= ${VectorQueries.GateProbes}"))
    assert(static("qe15c_massgated_density")
      .contains(s"CAST(${VectorQueries.GateMassFrac} AS DOUBLE)"))
    VectorQueries.clearGateSizing()
  }

  test("tuned-corpus identity: the sf0.1-shaped curve certifies exactly the production constants") {
    VectorQueries.clearGateSizing()
    val dir = tmpDir().toString
    GateCurve.Probe.write(dir, sf01Probe)
    GateCurve.Mass.write(dir, sf01Mass)
    assert(GateRule.Fixed.resolved(dir) == VectorQueries.GateProbes,
      "at the default target the committed sf0.1 curve picks P=16 — the constant IS curve-certified there")
    assert(GateRule.Mass.resolved(dir) == VectorQueries.GateMassFrac)
    VectorQueries.clearGateSizing()
  }

  test("a curve that never reaches the target falls back to the constants, not the largest swept budget") {
    VectorQueries.clearGateSizing()
    val dir = tmpDir().toString
    GateCurve.Probe.write(dir,
      Seq((8, 1000L, 0.30, 0.2, 0.2), (16, 2000L, 0.45, 0.3, 0.3)))
    assert(GateRule.Fixed.resolved(dir) == VectorQueries.GateProbes,
      "handing back an uncertified budget would silently miss the target")
    VectorQueries.clearGateSizing()
  }

  test("a budget whose curve row collapses a secondary measure is not certifiable (ADVICE r15)") {
    // an earlier sizing certified recall15 alone, and the sized budget's
    // sweep row then REPLACED the static floors of qe22b/qe25b — the
    // same sweep that picked the budget set the pass criterion for the
    // measures it never certified. Now the certified row must also
    // clear GateSecondaryMin on recall22/agree25; a cheap budget with a
    // collapsed secondary is skipped for the next fully-certified one.
    VectorQueries.clearGateSizing()
    val dir = tmpDir().toString
    GateCurve.Probe.write(dir, Seq(
      (8, 90527L, 0.7376, 0.42, 0.596), // primary certifies, recall22 collapsed
      (16, 177485L, 0.9452, 0.9348, 0.902)))
    GateCurve.Mass.write(dir, Seq(
      (0.2, 55365L, 0.7052, 0.5672, 0.43), // agree25 collapsed
      (0.35, 92619L, 0.7448, 0.6377, 0.606)))
    assert(GateRule.Fixed.resolved(dir) == 16,
      "P=8's collapsed recall22 must push sizing to the next certified budget")
    assert(GateRule.Mass.resolved(dir) == 0.35,
      "frac=0.2's collapsed agree25 must push sizing to the next certified fraction")
    VectorQueries.clearGateSizing()
    // and when NO swept budget clears the secondary minimums, the
    // fallback is the constants — same contract as a missed target
    // swept budgets deliberately != GateProbes so the assertion can
    // tell the constants FALLBACK from wrongly certifying a swept row
    val dir2 = tmpDir().toString
    GateCurve.Probe.write(dir2,
      Seq((8, 1000L, 0.95, 0.45, 0.45), (24, 2000L, 0.99, 0.49, 0.48)))
    assert(GateRule.Fixed.resolved(dir2) == VectorQueries.GateProbes)
    VectorQueries.clearGateSizing()
  }

  test("stale curve (corpus regenerated after the sweep) → constants") {
    VectorQueries.clearGateSizing()
    val dirP = tmpDir()
    val dir = dirP.toString
    GateCurve.Probe.write(dir, sf001Probe)
    val sweepF = new java.io.File(GateCurve.Probe.path(dir))
    touch(dirP.resolve("embeddings.parquet"), sweepF.lastModified + 60_000)
    assert(GateRule.Fixed.resolved(dir) == VectorQueries.GateProbes,
      "a curve measured on a replaced corpus may not size the gate")
    VectorQueries.clearGateSizing()
  }

  test("same-tick sweep write is NOT orphaned (ADVICE r14: the write stamps past the corpus)") {
    VectorQueries.clearGateSizing()
    val dirP = tmpDir()
    val dir = dirP.toString
    // corpus written 'now'; the sweep lands in the same mtime tick —
    // without the stamp the strict > guard would discard it
    touch(dirP.resolve("embeddings.parquet"), System.currentTimeMillis())
    GateCurve.Probe.write(dir, sf001Probe)
    assert(GateCurve.Probe.read(dir).contains(sf001Probe),
      "a sweep written after measuring this corpus must read as current")
    assert(GateRule.Fixed.resolved(dir) == 8)
    VectorQueries.clearGateSizing()
  }

  test("curve registry: clean-machine resolution (no tmpdir state) equals the committed-curve resolution") {
    // before the registry, `rm -rf /tmp/graft_gate*`
    // silently flipped a sized P=8 build back to the P=16 constant.
    // Both arms of the new contract: (a) with ONLY a committed registry
    // entry the sizing resolves the same budget a tmpdir curve would;
    // (b) the registry entry is content-keyed — a corpus whose bytes
    // changed does not match it.
    VectorQueries.clearGateSizing()
    val dirP = tmpDir()
    val dir = dirP.toString
    Files.write(dirP.resolve("embeddings.parquet"), Array.fill[Byte](1234)(7))
    val reg = tmpDir()
    try withRegistryProp(reg.toString) {
      // publish a curve into the registry ONLY (no tmpdir write)
      val entry = GateCurve.Probe.registryFile(dir)
        .getOrElse(fail("a non-empty corpus must have a registry identity"))
      Files.write(entry.toPath, GateCurve.Probe.encode(sf001Probe).getBytes("UTF-8"))
      assert(!new java.io.File(GateCurve.Probe.path(dir)).exists(),
        "precondition: no tmpdir cache for this corpus")
      assert(GateCurve.Probe.read(dir).contains(sf001Probe),
        "the committed entry must resolve with zero tmpdir state")
      assert(GateRule.Fixed.resolved(dir) == 8,
        "clean-machine sizing must equal the committed-curve sizing")
      VectorQueries.clearGateSizing()
      // a tmpdir cache of the same (deterministic) measurement resolves
      // identically — cache presence cannot change the answer
      GateCurve.Probe.write(dir, sf001Probe)
      assert(GateRule.Fixed.resolved(dir) == 8)
      VectorQueries.clearGateSizing()
      // content key: grow the corpus → the old entry no longer applies
      Files.write(dirP.resolve("embeddings.parquet"), Array.fill[Byte](5678)(7))
      new java.io.File(GateCurve.Probe.path(dir)).delete()
      assert(GateCurve.Probe.read(dir).isEmpty,
        "a registry entry keyed to other bytes must not serve this corpus")
      // same TOTAL bytes, different file shape
      // (a second file) — the old bytes-only witness aliased this
      Files.delete(dirP.resolve("embeddings.parquet"))
      Files.createDirectory(dirP.resolve("embeddings.parquet"))
      Files.write(dirP.resolve("embeddings.parquet").resolve("part-0"),
        Array.fill[Byte](1000)(7))
      Files.write(dirP.resolve("embeddings.parquet").resolve("part-1"),
        Array.fill[Byte](234)(7))
      assert(GateCurve.Probe.read(dir).isEmpty,
        "equal total bytes with a different file shape must not alias the entry")
    } finally VectorQueries.clearGateSizing()
  }

  test("dispatch rule: megacell fit → mass-budget, balanced fit → fixed-P, K ≤ P → fixed-P") {
    // Both arms as pure functions of the home-mass
    // distribution. Balanced K=142 fit: top-16 fraction = 16/142 ≈
    // 0.113 = exactly the balanced model → fixed-P.
    val k = 142
    val p = 16
    assert(VectorQueries.gateRuleFor(Seq.fill(k)(141L), 141L * k, p, k) == GateRule.Fixed)
    // the n=20k megacell receipts (gates/r14): top-16 cells hold ~54%
    // of the corpus vs the 11.3% balanced model — ratio ≈ 4.8 → mass
    val mega = Seq.fill(16)(675L) ++ Seq.fill(k - 16)(71L)
    assert(VectorQueries.gateRuleFor(mega, mega.sum, p, k) == GateRule.Mass)
    // K ≤ P probes every cell: fixed-P is exact AND cost-capped there
    assert(VectorQueries.gateRuleFor(Seq.fill(8)(1000L), 8000L, 16, 8) == GateRule.Fixed)
  }

  test("qe15d auto-dispatch: picks fixed-P on the near-balanced fixture and equals qe15b row-for-row") {
    val spark = SparkSpecBase.spark
    VectorQueries.clearGateSizing()
    val dir = "/root/testdata/sf0.001"
    val auto = VectorQueries.qe15d(spark, dir)
    assert(VectorQueries.gateRuleDecided(dir).contains(GateRule.Fixed),
      "the tiny near-balanced fixture must dispatch to the fixed-P gate")
    val b = VectorQueries.qe15b(spark, dir)
    assert(auto.collect().toSet == b.collect().toSet)
    // the corpus-level decision routes ALL
    // three gated families, each with its own oracle-checked receipt
    assert(VectorQueries.qe22d(spark, dir).collect().toSet
      == VectorQueries.qe22b(spark, dir).collect().toSet)
    assert(VectorQueries.qe25d(spark, dir).collect().toSet
      == VectorQueries.qe25b(spark, dir).collect().toSet)
    // and the dump-time oracle mirrors the memoized decision
    val sql = VectorQueries.gateOracle(Some(dir))
    assert(sql("qe15d_autogated_density") == sql("qe15b_gated_density"))
    assert(sql("qe22d_autogated_mutual_nn") == sql("qe22b_gated_mutual_nn"))
    assert(sql("qe25d_autogated_confusion") == sql("qe25b_gated_confusion"))
    VectorQueries.clearGateSizing()
  }

  test("qe15d auto-dispatch: picks mass-budget on a megacell corpus and equals qe15c row-for-row") {
    import org.apache.spark.sql.functions._
    val spark = SparkSpecBase.spark
    VectorQueries.clearGateSizing()
    val dirP = tmpDir()
    val dir = dirP.toString
    // n = 1,025 is the smallest corpus where K = 33 > 2P = 32, so the
    // mass rule can win. A tight cluster holds 1,000 vectors (97.6% of
    // n) and 25 scattered outliers take the smallest ids; the Lloyd
    // seeds are the 33 smallest ids, so the cluster homes in the 8 cells
    // its own seeds open and the top-16 cells hold over 98% of n against
    // the 2·16/33 = 97% bar.
    def u(d: Int) = xxhash64(col("id"), lit(d)).cast("double") / 1.8446744073709552e19
    spark.range(1025).select(col("id").as("vec_id"),
        array((0 until 8).map(d =>
          when(col("id") < 25, u(d) * 4).otherwise(lit(3.0) + u(d) * 1e-3)
            .cast("float")): _*).as("embedding"),
        (col("id") % 4).cast("int").as("label"))
      .write.parquet(s"$dir/embeddings.parquet")
    val index = GateRule.Mass.index.path(dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    try {
      val auto = VectorQueries.qe15d(spark, dir)
      assert(VectorQueries.gateRuleDecided(dir).contains(GateRule.Mass),
        "a 98% top-16 fit must dispatch to the mass-budgeted gate")
      assert(rows(auto) == rows(VectorQueries.qe15c(spark, dir)))
      assert(rows(VectorQueries.qe22d(spark, dir)) == rows(VectorQueries.qe22c(spark, dir)))
      assert(rows(VectorQueries.qe25d(spark, dir)) == rows(VectorQueries.qe25c(spark, dir)))
      val sql = VectorQueries.gateOracle(Some(dir))
      assert(sql("qe15d_autogated_density") == sql("qe15c_massgated_density"))
      assert(sql("qe22d_autogated_mutual_nn") == sql("qe22c_massgated_mutual_nn"))
      assert(sql("qe25d_autogated_confusion") == sql("qe25c_massgated_confusion"))
    } finally {
      VectorQueries.clearGateSizing()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(index))
      org.apache.commons.io.FileUtils.deleteQuietly(dirP.toFile)
    }
  }

  test("resolution is memoized per JVM: a curve planted after first use is invisible until cleared") {
    VectorQueries.clearGateSizing()
    val dir = tmpDir().toString
    assert(GateRule.Fixed.resolved(dir) == VectorQueries.GateProbes)
    GateCurve.Probe.write(dir, sf001Probe)
    // one Verify process must build and dump against the same numbers
    assert(GateRule.Fixed.resolved(dir) == VectorQueries.GateProbes)
    VectorQueries.clearGateSizing()
    assert(GateRule.Fixed.resolved(dir) == 8)
    VectorQueries.clearGateSizing()
  }

  test("committed registry covers the tested corpora under the CURRENT key scheme (VERDICT r16 item 6)") {
    // Resolves through the REAL gates/curves registry (cwd = repo root
    // under sbt's forked test JVM): the committed entries must exist
    // under whatever key scheme the reader currently computes and must
    // parse with the current reader — a silent key or format drift
    // would quietly revert clean-machine sizing to constants while the
    // registry still LOOKS populated. Fails on zero registry hit for a
    // corpus with a committed curve; fix by re-running CurvePublish.
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val f = GateCurve.Probe.registryFile(dir)
        .getOrElse(fail(s"$dir corpus must have a registry identity"))
      assert(f.exists,
        s"no committed curve at ${f.getPath} — key scheme drifted vs the " +
          "committed entries? re-publish with graft.tools.CurvePublish")
      val rows = GateCurve.Probe.parse(
        Files.readString(f.toPath))._1
      assert(rows.nonEmpty, s"committed curve ${f.getName} must parse with its reader")
    }
  }

  test("curve format is stable: committed curves re-encode byte for byte, paths keep their names") {
    // every committed registry file parses with its family's reader and
    // re-encodes to the identical bytes: integer axes print as integers,
    // K rows keep their probes field
    val committed = new java.io.File("gates/curves").listFiles
      .filter(_.getName.endsWith(".json")).toSeq
    assert(committed.nonEmpty, "the committed registry must hold curves")
    for (f <- committed) {
      val curve = GateCurve.all.find(c => f.getName.startsWith(s"graft_${c.family}_"))
        .getOrElse(fail(s"${f.getName} names no curve family"))
      val txt = Files.readString(f.toPath)
      val (rows, probes) = curve.parse(txt)
      assert(rows.nonEmpty, s"${f.getName} must parse with the ${curve.family} reader")
      assert(curve.encode(rows, probes) == txt, s"${f.getName} must re-encode byte for byte")
    }
    // the tmpdir cache names: fit fingerprint + dir slug; the K curve
    // lives beside the probe curve in the gatesweep directory
    val tmp = sys.props("java.io.tmpdir")
    val testdata = new java.io.File(SparkSpecBase.sf).getParent
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"$testdata/$sf"
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      assert(GateCurve.Probe.path(dir) == s"$tmp/graft_gatesweep_c714b87_$slug/_sweep.json")
      assert(GateCurve.Mass.path(dir) == s"$tmp/graft_gatemasssweep_c714b87_$slug/_sweep.json")
      assert(GateCurve.K.path(dir) == s"$tmp/graft_gatesweep_c714b87_$slug/_ksweep.json")
    }
  }

  test("a sweep whose corpus changed mid-sweep is refused the freshness stamp (ADVICE r16)") {
    VectorQueries.clearGateSizing()
    val dirP = tmpDir()
    val dir = dirP.toString
    touch(dirP.resolve("embeddings.parquet"), System.currentTimeMillis() - 60_000)
    val srcAtStart = GateCurve.corpusMtime(dir)
    // the corpus is regenerated while the (long) sweep measures it — a
    // deliberately future mtime so the natural write mtime alone could
    // never accidentally clear the strict-> check: only a (wrongly
    // granted) stamp would read fresh, which is what the test pins
    touch(dirP.resolve("embeddings.parquet"), System.currentTimeMillis() + 5_000)
    GateCurve.Probe.write(dir, sf001Probe, srcAtStart)
    assert(GateCurve.Probe.read(dir).isEmpty,
      "a curve measured across a corpus regeneration must read stale")
    assert(GateRule.Fixed.resolved(dir) == VectorQueries.GateProbes)
    VectorQueries.clearGateSizing()
  }
}

object GateSizingSpec {
  /** Guards every set/clear of the JVM-global `graft.curve.registry`
    * system property across suites.
    */
  val registryPropLock = new Object
}
