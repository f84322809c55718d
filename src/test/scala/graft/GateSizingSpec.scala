package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path => JPath}

import queries.{GateCurve, GateRule, VectorQueries}

/** Recall-targeted gate sizing: the persisted sweep curve DRIVES the
  * production build. Both arms pinned:
  *
  *  - planted current curve → the build resolves the cheapest budget
  *    the curve certifies at the target, the index fingerprint moves,
  *    and the dumped oracle SQL interpolates the SAME budget;
  *  - no curve / stale curve / curve that never reaches the target →
  *    the documented static constant, byte-identical oracle SQL to
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

  // sf0.1-shaped curve: 0.2 misses 0.70, 0.35/0.5 clear it — so at the
  // default target the resolution reproduces the production constant
  // (the tuned-corpus identity).
  private val sf01Mass: Seq[GateCurve.Row] = Seq(
    (0.2, 839988L, 0.6118, 0.4656, 0.4855),
    (0.35, 1440819L, 0.7811, 0.7166, 0.6505),
    (0.5, 2043242L, 0.8812, 0.8381, 0.7945))
  // a curve whose 0.2 row already clears 0.70 → the sized build is
  // CHEAPER than the constant. (The 0.2 row's secondaries sit above
  // GateSecondaryMin — a row that cleared recall15 but collapsed a
  // secondary would no longer certify; that arm has its own test below.)
  private val sf001Mass: Seq[GateCurve.Row] = Seq(
    (0.2, 55365L, 0.7052, 0.5672, 0.522),
    (0.35, 92619L, 0.7448, 0.6377, 0.606))

  test("no curve → static constants; oracle matches the static map byte-for-byte") {
    GateCurve.clearResolved()
    val dir = tmpDir().toString
    assert(GateRule.resolved(dir) == VectorQueries.GateMassFrac)
    val sized = VectorQueries.gateOracle(Some(dir))
    val static = VectorQueries.gateOracle(None)
    assert(sized == static,
      "with no persisted curve the dir-aware oracle must equal the constant arm")
    GateCurve.clearResolved()
  }

  test("planted curve sizes the build: cheaper certified budget, moved fingerprint, matching oracle") {
    GateCurve.clearResolved()
    val dir = tmpDir().toString
    val constantIndex = GateRule.index.path(dir)
    GateCurve.clearResolved()
    GateCurve.write(dir, sf001Mass)
    // cheapest certified at the 0.70 default: 0.2 (0.7052)
    assert(GateRule.resolved(dir) == 0.2)
    // the sized index lives in its own fingerprinted dir — the constant
    // build is orphaned, never served
    assert(GateRule.index.path(dir) != constantIndex)
    // the dump-time oracle interpolates the SAME resolved budget
    val sql = VectorQueries.gateOracle(Some(dir))
    assert(sql("qe15c_massgated_density").contains("CAST(0.2 AS DOUBLE)"))
    assert(!sql("qe15c_massgated_density").contains("CAST(0.35 AS DOUBLE)"))
    // the static arm still carries the constant
    val static = VectorQueries.gateOracle(None)
    assert(static("qe15c_massgated_density")
      .contains(s"CAST(${VectorQueries.GateMassFrac} AS DOUBLE)"))
    GateCurve.clearResolved()
  }

  test("tuned-corpus identity: the sf0.1-shaped curve certifies exactly the production constants") {
    GateCurve.clearResolved()
    val dir = tmpDir().toString
    GateCurve.write(dir, sf01Mass)
    assert(GateRule.resolved(dir) == VectorQueries.GateMassFrac,
      "at the default target the committed sf0.1 curve picks 0.35 — the constant IS curve-certified there")
    GateCurve.clearResolved()
  }

  test("a curve that never reaches the target falls back to the constants, not the largest swept budget") {
    GateCurve.clearResolved()
    val dir = tmpDir().toString
    GateCurve.write(dir,
      Seq((0.2, 1000L, 0.30, 0.2, 0.2), (0.5, 2000L, 0.45, 0.3, 0.3)))
    assert(GateRule.resolved(dir) == VectorQueries.GateMassFrac,
      "handing back an uncertified budget would silently miss the target")
    GateCurve.clearResolved()
  }

  test("a budget whose curve row collapses a secondary measure is not certifiable (ADVICE r15)") {
    // the sized budget's sweep row sets the floors of qe22c/qe25c, so
    // a sizing that certified recall15 alone would let the same sweep
    // set the pass criterion for the measures it never certified. The
    // certified row must also clear GateSecondaryMin on
    // recall22/agree25; a cheap budget with a collapsed secondary is
    // skipped for the next fully-certified one.
    GateCurve.clearResolved()
    val dir = tmpDir().toString
    GateCurve.write(dir, Seq(
      (0.2, 55365L, 0.7052, 0.5672, 0.43), // agree25 collapsed
      (0.35, 92619L, 0.7448, 0.6377, 0.606)))
    assert(GateRule.resolved(dir) == 0.35,
      "frac=0.2's collapsed agree25 must push sizing to the next certified fraction")
    GateCurve.clearResolved()
    // and when NO swept budget clears the secondary minimums, the
    // fallback is the constant — same contract as a missed target
    // swept budgets deliberately != GateMassFrac so the assertion can
    // tell the constant FALLBACK from wrongly certifying a swept row
    val dir2 = tmpDir().toString
    GateCurve.write(dir2,
      Seq((0.2, 1000L, 0.95, 0.45, 0.45), (0.5, 2000L, 0.99, 0.49, 0.48)))
    assert(GateRule.resolved(dir2) == VectorQueries.GateMassFrac)
    GateCurve.clearResolved()
  }

  test("stale curve (corpus regenerated after the sweep) → constants") {
    GateCurve.clearResolved()
    val dirP = tmpDir()
    val dir = dirP.toString
    GateCurve.write(dir, sf001Mass)
    val sweepF = new java.io.File(GateCurve.path(dir))
    touch(dirP.resolve("embeddings.parquet"), sweepF.lastModified + 60_000)
    assert(GateRule.resolved(dir) == VectorQueries.GateMassFrac,
      "a curve measured on a replaced corpus may not size the gate")
    GateCurve.clearResolved()
  }

  test("same-tick sweep write is NOT orphaned (ADVICE r14: the write stamps past the corpus)") {
    GateCurve.clearResolved()
    val dirP = tmpDir()
    val dir = dirP.toString
    // corpus written 'now'; the sweep lands in the same mtime tick —
    // without the stamp the strict > guard would discard it
    touch(dirP.resolve("embeddings.parquet"), System.currentTimeMillis())
    GateCurve.write(dir, sf001Mass)
    assert(GateCurve.read(dir).contains(sf001Mass),
      "a sweep written after measuring this corpus must read as current")
    assert(GateRule.resolved(dir) == 0.2)
    GateCurve.clearResolved()
  }

  test("curve registry: clean-machine resolution (no tmpdir state) equals the committed-curve resolution") {
    // without the registry, `rm -rf /tmp/graft_gate*` silently flips a
    // sized 0.2 build back to the 0.35 constant. Both arms of the
    // contract: (a) with ONLY a committed registry entry the sizing
    // resolves the same budget a tmpdir curve would; (b) the registry
    // entry is content-keyed — a corpus whose bytes changed does not
    // match it.
    GateCurve.clearResolved()
    val dirP = tmpDir()
    val dir = dirP.toString
    Files.write(dirP.resolve("embeddings.parquet"), Array.fill[Byte](1234)(7))
    val reg = tmpDir()
    try withRegistryProp(reg.toString) {
      // publish a curve into the registry ONLY (no tmpdir write)
      val entry = GateCurve.registryFile(dir)
        .getOrElse(fail("a non-empty corpus must have a registry identity"))
      Files.write(entry.toPath, GateCurve.encode(sf001Mass).getBytes("UTF-8"))
      assert(!new java.io.File(GateCurve.path(dir)).exists(),
        "precondition: no tmpdir cache for this corpus")
      assert(GateCurve.read(dir).contains(sf001Mass),
        "the committed entry must resolve with zero tmpdir state")
      assert(GateRule.resolved(dir) == 0.2,
        "clean-machine sizing must equal the committed-curve sizing")
      GateCurve.clearResolved()
      // a tmpdir cache of the same (deterministic) measurement resolves
      // identically — cache presence cannot change the answer
      GateCurve.write(dir, sf001Mass)
      assert(GateRule.resolved(dir) == 0.2)
      GateCurve.clearResolved()
      // content key: grow the corpus → the old entry no longer applies
      Files.write(dirP.resolve("embeddings.parquet"), Array.fill[Byte](5678)(7))
      new java.io.File(GateCurve.path(dir)).delete()
      assert(GateCurve.read(dir).isEmpty,
        "a registry entry keyed to other bytes must not serve this corpus")
      // same TOTAL bytes, different file shape
      // (a second file) — a bytes-only witness would alias this
      Files.delete(dirP.resolve("embeddings.parquet"))
      Files.createDirectory(dirP.resolve("embeddings.parquet"))
      Files.write(dirP.resolve("embeddings.parquet").resolve("part-0"),
        Array.fill[Byte](1000)(7))
      Files.write(dirP.resolve("embeddings.parquet").resolve("part-1"),
        Array.fill[Byte](234)(7))
      assert(GateCurve.read(dir).isEmpty,
        "equal total bytes with a different file shape must not alias the entry")
    } finally GateCurve.clearResolved()
  }

  test("resolution is memoized per JVM: a curve planted after first use is invisible until cleared") {
    GateCurve.clearResolved()
    val dir = tmpDir().toString
    assert(GateRule.resolved(dir) == VectorQueries.GateMassFrac)
    GateCurve.write(dir, sf001Mass)
    // one Verify process must build and dump against the same numbers
    assert(GateRule.resolved(dir) == VectorQueries.GateMassFrac)
    GateCurve.clearResolved()
    assert(GateRule.resolved(dir) == 0.2)
    GateCurve.clearResolved()
  }

  test("committed registry covers the tested corpora under the CURRENT key scheme (VERDICT r16 item 6)") {
    // Resolves through the REAL gates/curves registry (cwd = repo root
    // under sbt's forked test JVM): the committed entries must exist
    // under whatever key scheme the reader currently computes and must
    // parse with the current reader — a silent key or format drift
    // would quietly revert clean-machine sizing to the constant while
    // the registry still LOOKS populated. Fails on zero registry hit for
    // a corpus with a committed curve; fix by re-running CurvePublish.
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val f = GateCurve.registryFile(dir)
        .getOrElse(fail(s"$dir corpus must have a registry identity"))
      assert(f.exists,
        s"no committed curve at ${f.getPath} — key scheme drifted vs the " +
          "committed entries? re-publish with graft.tools.CurvePublish")
      assert(GateCurve.parse(Files.readString(f.toPath)).nonEmpty,
        s"committed curve ${f.getName} must parse with its reader")
    }
  }

  test("curve format is stable: committed curves re-encode byte for byte, paths keep their names") {
    // every committed registry file is a gatemasssweep curve that parses
    // and re-encodes to the identical bytes
    val committed = new java.io.File("gates/curves").listFiles
      .filter(_.getName.endsWith(".json")).toSeq
    assert(committed.nonEmpty, "the committed registry must hold curves")
    for (f <- committed) {
      assert(f.getName.startsWith(s"graft_${GateCurve.family}_"),
        s"${f.getName} names no curve family")
      val txt = Files.readString(f.toPath)
      val rows = GateCurve.parse(txt)
      assert(rows.nonEmpty, s"${f.getName} must parse with the ${GateCurve.family} reader")
      assert(GateCurve.encode(rows) == txt, s"${f.getName} must re-encode byte for byte")
    }
    // the tmpdir cache name: fit fingerprint + dir slug
    val tmp = sys.props("java.io.tmpdir")
    val testdata = new java.io.File(SparkSpecBase.sf).getParent
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"$testdata/$sf"
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      assert(GateCurve.path(dir) == s"$tmp/graft_gatemasssweep_c714b87_$slug/_sweep.json")
    }
  }

  test("a sweep whose corpus changed mid-sweep is refused the freshness stamp (ADVICE r16)") {
    GateCurve.clearResolved()
    val dirP = tmpDir()
    val dir = dirP.toString
    touch(dirP.resolve("embeddings.parquet"), System.currentTimeMillis() - 60_000)
    val srcAtStart = GateCurve.corpusMtime(dir)
    // the corpus is regenerated while the (long) sweep measures it — a
    // deliberately future mtime so the natural write mtime alone could
    // never accidentally clear the strict-> check: only a (wrongly
    // granted) stamp would read fresh, which is what the test pins
    touch(dirP.resolve("embeddings.parquet"), System.currentTimeMillis() + 5_000)
    GateCurve.write(dir, sf001Mass, srcAtStart)
    assert(GateCurve.read(dir).isEmpty,
      "a curve measured across a corpus regeneration must read stale")
    assert(GateRule.resolved(dir) == VectorQueries.GateMassFrac)
    GateCurve.clearResolved()
  }
}

object GateSizingSpec {
  /** Guards every set/clear of the JVM-global `graft.curve.registry`
    * system property across suites.
    */
  val registryPropLock = new Object
}
