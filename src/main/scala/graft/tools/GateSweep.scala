package graft.tools

import graft.queries.GateCurve

/** Measure the gate sizing curve ([[graft.queries.GateCurve]]) per sf
  * dir: the three twin-level recall numbers and the candidate volume
  * behind qe15c/qe22c/qe25c at each swept scanned-mass fraction, then
  * persist the table next to the gate index. This is the measurement
  * that sizes the gate's mass budget per corpus, and that RecallSpec
  * floors read.
  *
  * Usage: `sbt "runMain graft.tools.GateSweep [sfDir ...]"`. The swept
  * fractions are `SPARK_GRAFT_MASS_BUDGETS` (default
  * 0.05,0.1,0.2,0.35,0.5, the committed curves' axis).
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
    val axes = sys.env.get("SPARK_GRAFT_MASS_BUDGETS").map(_.split(",").toSeq)
      .getOrElse(Seq("0.05", "0.1", "0.2", "0.35", "0.5")).map(_.trim.toDouble)
    val spark = ToolSession.local(honorShuffleEnv = true)
    for (dir <- dirs) {
      println(s"== gate ${GateCurve.family} @ $dir " +
        s"(${GateCurve.axisKey} ${axes.map(GateCurve.show).mkString("/")}) ==")
      // the corpus identity at sweep START, so the write can refuse the
      // freshness stamp if the corpus moved while the sweep measured it
      val srcAtStart = GateCurve.corpusMtime(dir)
      val t0 = System.nanoTime()
      val rows = GateCurve.sweep(spark, dir, axes)
      println(f"${GateCurve.axisKey}%9s ${"cand_rows"}%10s ${"recall15"}%9s ${"recall22"}%9s ${"agree25"}%9s")
      rows.foreach { case (a, n, r15, r22, r25) =>
        println(f"${GateCurve.show(a)}%9s $n%10d $r15%9.4f $r22%9.4f $r25%9.4f")
      }
      println(f"sweep wall: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      GateCurve.write(dir, rows, srcAtStart)
      println(s"${GateCurve.family} persisted: ${GateCurve.path(dir)}")
    }
    spark.stop()
  }
}
