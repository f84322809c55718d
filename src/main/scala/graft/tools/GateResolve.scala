package graft.tools

import graft.queries.{GateCurve, GateRule, VectorQueries}

/** One-stop gate onboarding readout for a corpus: what the production
  * gate would ACTUALLY build here, from the committed curve registry and
  * tmpdir cache as they stand. It prints the resolved mass budget
  * (curve-sized when a current curve exists), the curve it reads, and
  * the home-cell mass distribution of the production fit. A clean
  * checkout runs it and reads the same numbers the committed receipts
  * were built with.
  *
  * The mass line reads `n`, `K`, the non-empty cell count, the heaviest
  * and median cell, and how many of the heaviest cells hold the budget
  * ⌈massFrac·n⌉ next to the ⌈massFrac·K⌉ a balanced fit would need:
  * empty cells and a heavy tail mean a few megacells hold the corpus.
  *
  * Usage: `sbt "runMain graft.tools.GateResolve <sfDir> [...]"`.
  * `SPARK_GRAFT_RESOLVE_ONLY=1` skips the Spark-session step (the
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
      val frac = GateRule.resolved(dir)
      val how = if (frac == VectorQueries.GateMassFrac) "constant-or-curve" else "curve-sized"
      println(s"[resolve] $dir massFrac=${GateCurve.show(frac)} ($how)")
      println(s"[resolve] $dir ${GateCurve.family}: " + GateCurve.read(dir).fold("no curve")(rows =>
        s"${rows.size} rows, ${GateCurve.axisKey} ${rows.map(r => GateCurve.show(r._1)).mkString("/")}"))
      spark.foreach { s =>
        val masses = VectorQueries.gateHomeMasses(s, dir)
        val n = masses.sum
        val k = VectorQueries.gateK(n)
        val budget = math.max(1L, math.ceil(frac * n).toLong)
        val cells = masses.scanLeft(0L)(_ + _).indexWhere(_ >= budget)
        println(s"[resolve] $dir mass: n=$n K=$k non-empty=${masses.size} " +
          s"max=${masses.head} p50=${masses(masses.size / 2)} " +
          s"budget=$budget held by the $cells heaviest cells " +
          s"(balanced would be ${math.ceil(frac * k).toInt})")
      }
    }
    spark.foreach(_.stop())
  }
}
