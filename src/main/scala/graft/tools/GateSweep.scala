package graft.tools

import graft.queries.{GateCurve, VectorQueries}

/** Measure one gate sizing curve ([[graft.queries.GateCurve]]) per sf
  * dir: the three twin-level recall numbers and the candidate volume
  * behind qe15b/qe22b/qe25b (and their mass-budget twins) at each swept
  * value, then persist the table next to the gate index. This is the
  * measurement that sizes `VectorQueries.GateProbes` and
  * `GateMassFrac` per corpus, and that RecallSpec floors read.
  *
  * Usage: `sbt "runMain graft.tools.GateSweep [sfDir ...]"`. The family
  * is picked by the first env var set:
  *  - `SPARK_GRAFT_K_BUDGETS=23,45,90`: the cell count K, each value a
  *    full refit probed at the budget production resolves for the corpus;
  *  - `SPARK_GRAFT_MASS_BUDGETS=0.2,0.35`: scanned-mass fractions;
  *  - otherwise probe budgets, `SPARK_GRAFT_BUDGETS` (default
  *    8,12,16,24). The 10× decay study needs budgets past the sf0.1 knee.
  *
  * The 10× study (n=20k) sorts ~200M-row exact-pairs frames, where each
  * sort task buffers more than its heap share at full width, so the
  * session honors `SPARK_GRAFT_SHUFFLE`: fewer concurrent tasks and more,
  * smaller shuffle partitions keep the same wall-clock shape inside
  * memory. Both knobs default to the production values.
  */
object GateSweep {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    def env(key: String) = sys.env.get(key).map(_.split(",").map(_.trim).toSeq)
    val (curve, raw) = env("SPARK_GRAFT_K_BUDGETS").map(GateCurve.K -> _)
      .orElse(env("SPARK_GRAFT_MASS_BUDGETS").map(GateCurve.Mass -> _))
      .getOrElse(GateCurve.Probe ->
        env("SPARK_GRAFT_BUDGETS").getOrElse(Seq("8", "12", "16", "24")))
    val axes = raw.map(v => if (curve.integralAxis) v.toInt.toDouble else v.toDouble)
    val spark = ToolSession.local(honorShuffleEnv = true)
    for (dir <- dirs) {
      val at = curve.sweptAt(dir)
      println(s"== gate ${curve.family} @ $dir (${at.fold("")(p => s"P = $p resolved, ")}" +
        s"${curve.axisKey} ${axes.map(curve.show).mkString("/")}) ==")
      // the corpus identity at sweep START, so the write can refuse the
      // freshness stamp if the corpus moved while the sweep measured it
      val srcAtStart = GateCurve.corpusMtime(dir)
      val t0 = System.nanoTime()
      val rows = curve.sweep(spark, dir, axes)
      println(f"${curve.axisKey}%9s ${"cand_rows"}%10s ${"recall15"}%9s ${"recall22"}%9s ${"agree25"}%9s")
      rows.foreach { case (a, n, r15, r22, r25) =>
        println(f"${curve.show(a)}%9s $n%10d $r15%9.4f $r22%9.4f $r25%9.4f")
      }
      println(f"sweep wall: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      curve.write(dir, rows, srcAtStart, at)
      println(s"${curve.family} persisted: ${curve.path(dir)}")
      if (curve eq GateCurve.K) {
        // the onboarding check: does the curve just measured contradict
        // the sqrt-n rule?
        val n = graft.Tables.embeddings(spark, dir).count()
        VectorQueries.gateKRuleWarning(dir, n) match {
          case Some(w) => println(s"K RULE WARNING: $w")
          case None => println(s"K rule check: ceil(sqrt($n)) undominated on the swept axis - KEEP")
        }
      }
    }
    spark.stop()
  }
}
