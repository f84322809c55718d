package graft.tools

import graft.queries.{GateCurve, GateRule, VectorQueries}

/** One-stop gate onboarding readout for a corpus: what the production
  * gate would ACTUALLY build here, from the committed curve registry and
  * tmpdir cache as they stand. It prints each [[GateRule]]'s resolved
  * budget (curve-sized when a current curve exists), the curve each
  * [[GateCurve.all]] family reads, the home-cell mass distribution of
  * the production fit with the fixed-P vs mass-budget dispatch decision
  * it drives, and the K-rule contradiction check over the persisted K
  * curve. A clean checkout runs it and reads the same numbers the
  * committed receipts were built with.
  *
  * The mass line reads `n`, `K`, the non-empty cell count, the heaviest
  * and median cell, and the top-P cells' share of the corpus next to
  * the P/K share a balanced fit would give: empty cells and a heavy
  * tail mean the quantizer, not the probe rule, skews the scan.
  *
  * Usage: `sbt "runMain graft.tools.GateResolve <sfDir> [...]"`.
  * `SPARK_GRAFT_RESOLVE_ONLY=1` skips the Spark-session steps (the
  * mass distribution needs a fit) and prints just the curve-driven
  * sizing, enough to audit registry resolution without a cluster.
  */
object GateResolve {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: GateResolve <sfDir> [<sfDir> ...]")
    val sizingOnly = sys.env.contains("SPARK_GRAFT_RESOLVE_ONLY")
    val spark =
      if (sizingOnly) None
      else Some(ToolSession.local(defaultCpus = "8"))
    println(s"[resolve] curve registry: ${GateCurve.registryDir}")
    // the default registry path resolves against the process cwd (repo
    // root under sbt): a run launched elsewhere silently loses the
    // committed curves, so say so loudly
    if (!new java.io.File(GateCurve.registryDir).isDirectory)
      println(s"[resolve] WARNING: registry dir not found from cwd " +
        s"${sys.props("user.dir")} - sizing will use tmpdir cache/constants " +
        "only (set SPARK_GRAFT_CURVE_REGISTRY to the committed gates/curves)")
    for (dir <- args) {
      def budget(r: GateRule) = {
        val b = r.resolved(dir)
        r.curve.show(b) + (if (b == r.fallback) " (constant-or-curve)" else " (curve-sized)")
      }
      val p = GateRule.Fixed.resolved(dir).toInt
      println(s"[resolve] $dir probes=${budget(GateRule.Fixed)} massFrac=${budget(GateRule.Mass)}")
      for (curve <- GateCurve.all)
        println(s"[resolve] $dir ${curve.family}: " + curve.read(dir).fold("no curve")(rows =>
          s"${rows.size} rows, ${curve.axisKey} ${rows.map(r => curve.show(r._1)).mkString("/")}"))
      // K-curve budget audit: pure filesystem reads, so it runs in
      // RESOLVE_ONLY mode too
      val kCurve = GateCurve.K.readRecorded(dir)
      val kBudgetMismatch = kCurve.flatMap(_._2).filter(_ != p)
      (kCurve, kBudgetMismatch) match {
        case (None, _) =>
          println(s"[resolve] $dir K curve: none persisted (run the GateSweep K mode to measure)")
        case (_, Some(pk)) =>
          println(s"[resolve] $dir K curve was swept at P=$pk but production " +
            s"resolves P=$p - re-sweep (GateSweep K mode) before trusting it")
        case _ => () // budget-matched; the rule check below adjudicates it
      }
      spark.foreach { s =>
        val masses = VectorQueries.gateHomeMasses(s, dir)
        val n = masses.sum
        val k = VectorQueries.gateK(n)
        val topP = masses.take(p).sum
        println(s"[resolve] $dir mass: n=$n K=$k non-empty=${masses.size} " +
          s"max=${masses.head} p50=${masses(masses.size / 2)} " +
          f"top${p}Mass=$topP (${100.0 * topP / n}%.1f%% of corpus; " +
          f"balanced would be ${100.0 * math.min(p, k) / k}%.1f%%)")
        val rule = VectorQueries.gateRuleFor(masses, n, p, k) match {
          case GateRule.Mass => "MASS-BUDGET"
          case GateRule.Fixed => "FIXED-P"
        }
        println(s"[resolve] $dir n=$n K=$k dispatch=$rule")
        // the contradiction check only speaks for curves measured at
        // the budget production actually resolves — a wrong-budget
        // curve answers a question production never asks (the audit
        // above already told the operator to re-sweep)
        if (kCurve.isDefined && kBudgetMismatch.isEmpty)
          VectorQueries.gateKRuleWarning(dir, n) match {
            case Some(w) => println(s"[resolve] $dir K RULE WARNING: $w")
            case None =>
              println(s"[resolve] $dir K rule: sqrt-n undominated on the persisted curve (P=$p) - KEEP")
          }
      }
    }
    spark.foreach(_.stop())
  }
}
