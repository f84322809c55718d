package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.sources.HadoopFs

/** The measured sizing curve of the ANN gate ([[GateRule]]): the three
  * twin-level recall measures and the candidate volume, swept along the
  * scanned-mass fraction on one corpus. Its lifecycle: sweep the axis
  * against the exact anchors, persist the table in the
  * fit-fingerprinted tmpdir, read it back through the staleness-guarded
  * cache or the committed registry, and pick the cheapest swept value
  * the curve certifies.
  */
object GateCurve {

  /** Registry and tmpdir family name (`graft_gatemasssweep_...`). */
  val family = "gatemasssweep"

  /** JSON key of the swept axis. */
  val axisKey = "mass_frac"

  /** One measured row: (mass fraction, scored candidate rows, recall15,
    * recall22, agree25), the units GateSweep prints and RecallSpec
    * floors.
    */
  type Row = (Double, Long, Double, Double, Double)

  // doubles serialize via toString, which goes scientific below 1e-3
  // ("1.0E-4"): the number pattern must accept exponents or rows
  // silently drop
  private val Num = """-?[0-9.]+(?:[eE][-+]?[0-9]+)?"""

  private val rowPattern =
    (s"""\\{"$axisKey":($Num),"cand_rows":(\\d+),"recall15":($Num),""" +
      s""""recall22":($Num),"agree25":($Num)\\}""").r

  /** The build-parameter fingerprint of the gate fit, shared by [[path]]
    * and [[registryFile]]. Fit parameters only: the curve sweeps the
    * budget, so the budget must not key the location (the sized build
    * changes the budget, and must still find the curve that sized it).
    * A fit-parameter change moves both names, so a curve is never
    * paired with a differently fitted quantizer.
    */
  private def fitFingerprint: String = HadoopFs.paramFingerprint(
    VectorQueries.GateFitIters, VectorQueries.GateFitPerCell, "sqrtK")

  /** The persisted curve for a corpus. */
  def path(dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_${family}_${fitFingerprint}_" +
      s"${HadoopFs.dirSlug(dir)}/_sweep.json"

  /** The committed registry entry for a corpus, keyed by the same fit
    * fingerprint and dir slug as [[path]] plus the corpus's content key
    * ([[graft.sources.HadoopFs.contentKey]]: total bytes + file count +
    * largest-file size). Checkout mtimes are meaningless, so content is
    * the staleness witness, and the slug keeps two same-sized corpora
    * (sf0.001 and sf0.01 both hold n=500 and differ by a few bytes of
    * compression noise) from aliasing one curve. None for an absent or
    * empty corpus: no content, no identity, and CurvePublish refuses to
    * write one.
    */
  def registryFile(dir: String): Option[java.io.File] =
    HadoopFs.contentKey(new org.apache.hadoop.conf.Configuration(),
        s"$dir/embeddings.parquet").map { key =>
      new java.io.File(
        s"$registryDir/graft_${family}_${fitFingerprint}_${HadoopFs.dirSlug(dir)}_$key.json")
    }

  /** A mass fraction as the curve file, the oracle SQL and the index
    * fingerprint print it.
    */
  def show(axis: Double): String = axis.toString

  /** One row per mass fraction, measured against the exact anchors,
    * which are materialized once for the whole sweep (they dominate its
    * cost), over one production fit (it does not depend on the budget).
    */
  def sweep(s: SparkSession, dir: String, axes: Seq[Double]): Seq[Row] = {
    val e = VectorQueries.embs(s, dir)
    val n = Tables.embeddings(s, dir).count()
    val cents = VectorQueries.gateFitCents(e, VectorQueries.gateK(n), n)
    val measure = VectorQueries.gateSweepAnchors(s, dir)
    axes.map { a =>
      val (rows, r15, r22, r25) = measure(GateRule.candsWith(e, cents, a, n))
      (a, rows, r15, r22, r25)
    }
  }

  def encode(rows: Seq[Row]): String =
    rows.map { case (a, n, r15, r22, r25) =>
      s"""{"$axisKey":${show(a)},"cand_rows":$n,"recall15":$r15,""" +
        s""""recall22":$r22,"agree25":$r25}"""
    }.mkString("[", ",", "]")

  /** `srcAtStart` is the corpus mtime the sweep captured before it
    * started measuring (see [[stampPastCorpus]]).
    */
  def write(dir: String, rows: Seq[Row], srcAtStart: Long = -1L): Unit = {
    val f = new java.io.File(path(dir))
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, encode(rows).getBytes("UTF-8"))
    stampPastCorpus(f, dir, srcAtStart)
  }

  /** The rows of one curve text; none when the text does not parse. */
  def parse(txt: String): Seq[Row] =
    rowPattern.findAllMatchIn(txt).map(m => (m.group(1).toDouble, m.group(2).toLong,
      m.group(3).toDouble, m.group(4).toDouble, m.group(5).toDouble)).toSeq

  /** Candidate curve texts for a corpus, most authoritative first: the
    * tmpdir cache when current, then the committed registry entry. Both
    * are offered so a reader falls through to the registry when the
    * cache text exists but no longer parses (an older-format artifact
    * must not shadow a valid committed curve). Lazy on purpose: the
    * registry candidate costs a recursive corpus byte listing, which a
    * current, parsing cache hit must never pay.
    */
  private def texts(dir: String): Iterator[String] = {
    val tmp = Iterator(new java.io.File(path(dir)))
      .filter(f => f.exists() && cacheCurrent(f, dir))
    val reg = Iterator(()).flatMap(_ => registryFile(dir).filter(_.exists()).iterator)
    (tmp ++ reg).map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  /** The rows of the current curve, skipping any source that fails to
    * parse.
    */
  def read(dir: String): Option[Seq[Row]] = texts(dir).map(parse).find(_.nonEmpty)

  /** The cheapest swept fraction whose measured recall15 meets `target`
    * on this corpus. The row must also clear
    * [[VectorQueries.GateSecondaryMin]] on recall22 and agree25: the
    * value serves all three gated families, so the primary target alone
    * must not certify a secondary collapse. None when no current curve
    * exists or no swept value qualifies: handing back a value that
    * misses the target is the one wrong answer.
    */
  def cheapest(dir: String, target: Double): Option[Double] =
    read(dir).flatMap(_.sortBy(_._1).find(r => r._3 >= target &&
      r._4 >= VectorQueries.GateSecondaryMin && r._5 >= VectorQueries.GateSecondaryMin)
      .map(_._1))

  private val resolvedAxis = new ConcurrentHashMap[String, java.lang.Double]()

  /** [[cheapest]] at [[VectorQueries.GateRecallTarget]], else
    * [[VectorQueries.GateMassFrac]], memoized per corpus dir for the JVM
    * lifetime: one Verify process runs the gated queries AND dumps their
    * oracle SQL, and both must see the same value even if a concurrent
    * GateSweep rewrites the curve between the two reads. First
    * resolution wins; specs that plant curves call [[clearResolved]].
    */
  def resolved(dir: String): Double =
    resolvedAxis.computeIfAbsent(dir, _ => java.lang.Double.valueOf(
      cheapest(dir, VectorQueries.GateRecallTarget).getOrElse(VectorQueries.GateMassFrac)))
      .doubleValue

  /** Spec hook: drop memoized sizing decisions (a test that plants a
    * curve, resolves, then plants a different curve needs the second
    * plant to be visible). Never called on a production path.
    */
  private[graft] def clearResolved(): Unit = resolvedAxis.clear()

  /** The repo-committed curve registry: `SPARK_GRAFT_CURVE_REGISTRY`,
    * default `gates/curves`, resolved against the process working
    * directory (the repo root under sbt). Without it a clean machine
    * silently built the constant fallback where a machine that had run
    * a sweep built the certified-cheaper budget: the oracle adapts
    * either way, but the artifact differed by what had run on the box
    * before. The readers fall back to the registry when no current
    * tmpdir cache exists; a fresh local sweep of the same corpus and fit
    * parameters is deterministic, so precedence changes availability,
    * never values. `graft.tools.CurvePublish` fills it.
    */
  private[graft] def registryDir: String =
    sys.env.get("SPARK_GRAFT_CURVE_REGISTRY")
      .orElse(sys.props.get("graft.curve.registry")) // spec hook (env is process-fixed)
      .getOrElse("gates/curves")

  /** Newest corpus mtime, captured by the sweep tool before it starts
    * measuring, so [[stampPastCorpus]] can refuse to freshness-stamp a
    * curve whose corpus was regenerated mid-sweep.
    */
  def corpusMtime(dir: String): Long =
    HadoopFs.newestMtime(new org.apache.hadoop.conf.Configuration(), s"$dir/embeddings.parquet")

  /** A cached curve is only valid for the corpus it was measured on: the
    * fingerprinted path pins the parameters, but a regenerated corpus
    * keeps the same path, so without this strict mtime guard a stale
    * curve would keep certifying budgets (and raising RecallSpec floors)
    * measured on different data. The index artifacts use the same rule.
    */
  private[graft] def cacheCurrent(f: java.io.File, dir: String): Boolean =
    f.lastModified > corpusMtime(dir)

  /** On filesystems with coarse (1 s) mtime granularity a curve
    * persisted in the same tick as the corpus it just measured reads as
    * stale under [[cacheCurrent]]'s strict `>` and is silently orphaned.
    * Mirroring the index artifacts' _SUCCESS-last convention, the fresh
    * curve is stamped strictly past the corpus: the write HAS just
    * measured this corpus, so the claim the stamp makes is true by
    * construction.
    */
  private def stampPastCorpus(f: java.io.File, dir: String, srcAtStart: Long): Unit = {
    val src = corpusMtime(dir)
    // Two holes are closed here. (1) A corpus regenerated mid-sweep
    // (mtime moved since srcAtStart) gets NO stamp: the curve measured
    // replaced data, and its natural write mtime then loses the
    // strict-> check, the safe side. (2) The bump is ONE millisecond
    // past the corpus, not a second, so a corpus regenerated right after
    // the write cannot read older than the stamp; on a coarse-mtime
    // filesystem that degrades to a same-tick orphan, which is
    // false-STALE (a re-sweep), never false-fresh. A vanished corpus
    // (FNF sentinel Long.MaxValue) also gets no bump.
    if (src != Long.MaxValue && (srcAtStart < 0L || src == srcAtStart))
      f.setLastModified(math.max(f.lastModified,
        math.max(System.currentTimeMillis, src + 1L)))
    else if (srcAtStart >= 0L && src != srcAtStart)
      System.err.println(s"[sweep] REFUSING freshness stamp for $f — " +
        s"corpus $dir changed during the sweep (mtime $srcAtStart -> $src); " +
        "the curve measured replaced data and will read stale")
  }
}
