package graft.tools

import graft.queries.{GateCurve, VectorQueries}

/** One-stop gate onboarding readout for a corpus: what the production
  * gate would ACTUALLY build here, from the committed curve registry and
  * tmpdir cache as they stand. It prints the resolved probe budget and
  * mass fraction ([[graft.queries.VectorQueries.resolvedGateProbes]],
  * [[graft.queries.VectorQueries.resolvedGateMassFrac]], curve-sized
  * when a current curve exists), the curve each [[GateCurve.all]]
  * family reads, the fixed-P vs mass-budget dispatch decision with its
  * measured skew signal, and the K-rule contradiction check over the
  * persisted K curve. A clean checkout runs it and reads the same
  * numbers the committed receipts were built with.
  *
  * Usage: `sbt "runMain graft.tools.GateResolve <sfDir> [...]"`.
  * `SPARK_GRAFT_RESOLVE_ONLY=1` skips the Spark-session steps (the
  * dispatch signal needs a fit) and prints just the curve-driven
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
      val p = VectorQueries.resolvedGateProbes(dir)
      val f = VectorQueries.resolvedGateMassFrac(dir)
      val pSrc = if (p == VectorQueries.GateProbes) "constant-or-curve" else "curve-sized"
      val fSrc = if (f == VectorQueries.GateMassFrac) "constant-or-curve" else "curve-sized"
      println(s"[resolve] $dir probes=$p ($pSrc) massFrac=$f ($fSrc)")
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
        val n = graft.Tables.embeddings(s, dir).count()
        val rule = if (VectorQueries.gateUseMass(s, dir)) "MASS-BUDGET" else "FIXED-P"
        println(s"[resolve] $dir n=$n K=${VectorQueries.gateK(n)} dispatch=$rule")
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
