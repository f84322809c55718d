package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import Rounding.dround

import graft.GraftConf

/** Pareto / ABC concentration (SURVEY §2.4 A13 + §2.5 W2;
  * /root/reference/src/kpis.py:117-161).
  *
  * Faithfully replicates the two reference quirks (SURVEY §7.6.8):
  *  - the first-ranked row is ALWAYS class "A" even if its own share
  *    exceeds the A threshold;
  *  - the final row's cumulative share is force-set to exactly 1.0.
  *
  * Two execution shapes behind one API, picked by the input's Catalyst
  * size estimate vs `graft.pareto.twoPhase.bytes` (runtime conf, default
  * [[GraftConf.paretoTwoPhaseBytesDefault]]):
  *  - global window (below the threshold): single partition, correct at
  *    the reference's cardinality (accounts, not facts), and the only
  *    shape whose left-to-right double summation is bit-identical to the
  *    sequential oracle. Report cardinalities stay here.
  *  - distributed prefix sum (at or above it): for when the key
  *    dimension itself explodes — range-repartition by (value desc, key
  *    asc), cut once ([[Checkpoints.cut]]), per-partition local windows,
  *    per-partition (sum, count) offsets collected (one tiny P-row
  *    action) and broadcast back, then cum = local + offset. Ranks are
  *    exactly the global ranks (range partitioning preserves the total
  *    order); cumulative sums differ from the sequential form only by
  *    floating-point re-association (ulps) — property-tested to agree on
  *    ranks and rounded outputs. A 100× key-dimension blow-up flips here
  *    instead of silently single-partitioning.
  */
object Pareto {

  /** Note on oracle exactness: below the dispatch threshold both shapes
    * agree bit-for-bit with a sequential oracle; above it the two-phase
    * cumulative sums re-associate doubles, so `dround(...)` outputs can
    * differ in the last ulp at a rounding boundary. Hash-exact oracle
    * comparison is therefore only guaranteed below the threshold — the
    * driver gate runs at sf ≤ 0.1 (estimates far below 256 MB), and the
    * two-phase shape is property-tested for exact rank agreement and
    * rounded-output agreement on its own.
    */
  def abc(perKey: DataFrame, keyCol: Column, valueCol: Column): DataFrame =
    classify(
      rankCumBy(perKey, Seq(valueCol.desc, keyCol.asc), valueCol, "rnk", "_cum", "_tot", "_n"),
      valueCol)

  /** The two-phase reconstruction's own working columns — also the
    * names [[rankCumBy]] refuses as caller-chosen OUTPUT names (the
    * trailing .drop would silently eat them; one shared definition, not
    * two lists to keep in sync).
    */
  private val twoPhaseInternal = Seq("_pid", "_lrn", "_lcum", "_coff", "_soff")

  /** ALL internal working columns (two-phase + abc's intermediates).
    * Public API frames must not carry these — a silent collision would
    * corrupt ranks, so both entry points check loudly instead of
    * renaming behind the caller's back.
    */
  private val tempCols = twoPhaseInternal ++ Seq("_cum", "_cum_raw", "_tot", "_n")

  private def requireNoTempCollision(df: DataFrame): Unit = {
    val clash = df.columns.intersect(tempCols)
    require(clash.isEmpty,
      s"input columns ${clash.mkString(", ")} collide with Pareto's internal " +
        s"working columns (${tempCols.mkString(", ")}); rename them first")
  }

  /** Auto-dispatch signal: Catalyst's size estimate for the input plan
    * (no action, no extra job) against the session's threshold. The
    * estimate is coarse — that is fine: the global window has headroom
    * of orders of magnitude, so only genuinely large inputs must flip.
    */
  private[graft] def autoTwoPhase(df: DataFrame): Boolean = {
    val threshold = df.sparkSession.conf
      .getOption(GraftConf.paretoTwoPhaseBytesKey)
      .map { v =>
        // fail at the misconfiguration, naming the key — a bare toLong
        // would surface as a NumberFormatException deep inside every
        // abc/rankBy plan build
        scala.util.Try(v.trim.toLong).getOrElse(throw new IllegalArgumentException(
          s"${GraftConf.paretoTwoPhaseBytesKey} must be a byte count in plain " +
            s"digits (got '$v'; suffixes like '256m' are not supported)"))
      }
      .getOrElse(GraftConf.paretoTwoPhaseBytesDefault)
    df.queryExecution.optimizedPlan.stats.sizeInBytes >= BigInt(threshold)
  }

  /** Global rank + running value sum + grand total + row count over
    * arbitrary sort `keys`, with [[abc]]'s two execution shapes (the CxC
    * dual-sort concentración needs exactly abc's window quartet but with
    * its OWN classification quirks, so the quartet lives here and
    * [[abc]] classifies its output). Below the dispatch threshold the
    * four columns come from one global window pass, bit-identical to a
    * sequential oracle; above it the range-partition + offset
    * reconstruction runs — ranks and counts exact, cumulative/total sums
    * equal up to double re-association (same contract as [[abc]]).
    */
  def rankCumBy(df: DataFrame, keys: Seq[Column], valueCol: Column,
      rankCol: String, cumCol: String, totCol: String, nCol: String): DataFrame = {
    requireNoTempCollision(df)
    // the INPUT check above guards df's columns, but a
    // caller-chosen OUTPUT name colliding with the two-phase WORKING
    // columns would be silently dropped by the trailing .drop
    // (cumCol="_lcum") or corrupt the _pid join — refuse loudly
    // instead. Only the five two-phase internals are reserved here:
    // the rest of tempCols are [[abc]]'s own intermediates, which abc
    // legitimately passes as output names and renames afterwards.
    val clash = Seq(rankCol, cumCol, totCol, nCol).filter(twoPhaseInternal.contains)
    require(clash.isEmpty,
      s"rankCumBy output names collide with two-phase internals: ${clash.mkString(", ")}")
    if (autoTwoPhase(df))
      rankCumTwoPhase(df, keys, valueCol, rankCol, cumCol, totCol, nCol)
    else {
      val w = Window.orderBy(keys: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      df.withColumn(rankCol, row_number().over(Window.orderBy(keys: _*)).cast("int"))
        .withColumn(nCol, count(lit(1)).over(wAll))
        .withColumn(totCol, sum(valueCol).over(wAll))
        .withColumn(cumCol, sum(valueCol).over(w))
    }
  }

  /** The scaffold every two-phase shape shares. Range partitioning
    * puts partition i before partition i+1 in key order, so a
    * per-partition local window plus an exclusive scan of the
    * per-partition totals of the preceding partitions reconstructs a
    * global quantity. The cut pins the boundaries: the P-row stats
    * collect and the returned plan see the SAME range partitioning.
    *
    * @param local the per-partition window columns, over `_pid` ordered
    *              by `keys`
    * @param stats per-partition totals (long or double) over the local
    *              frame; P rows, driver-sized by construction
    * @return the local frame joined to each stat's exclusive offset
    *         (a column named as the stat), and each stat's grand total
    */
  private def twoPhase(df: DataFrame, keys: Seq[Column],
      local: WindowSpec => Seq[(String, Column)],
      stats: Seq[(String, Column)]): (DataFrame, Seq[Any]) = {
    val parted = Checkpoints.cut(df
      .repartitionByRange(keys: _*)
      .withColumn("_pid", spark_partition_id()))
    val wLocal = Window.partitionBy("_pid").orderBy(keys: _*)
    val framed = local(wLocal).foldLeft(parted) { case (d, (n, c)) => d.withColumn(n, c) }
    val agg = framed.groupBy("_pid").agg(stats.head._2.as(stats.head._1),
      stats.tail.map { case (n, c) => c.as(n) }: _*)
    val rows = agg.collect().sortBy(_.getInt(0))
    // one left-to-right running sum per stat: P exclusive offsets, then
    // the grand total
    val scans = agg.schema.fields.indices.tail.map { i =>
      agg.schema(i).dataType match {
        case LongType => rows.map(_.getLong(i)).scanLeft(0L)(_ + _).toSeq
        case _ => rows.map(_.getDouble(i)).scanLeft(0.0)(_ + _).toSeq
      }
    }
    val offsets = rows.indices.map(p => Row.fromSeq(rows(p).get(0) +: scans.map(_(p))))
    val offDf = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(offsets: _*), agg.schema)
    (framed.join(broadcast(offDf), Seq("_pid")), scans.map(_.last))
  }

  private def rankCumTwoPhase(df: DataFrame, keys: Seq[Column], valueCol: Column,
      rankCol: String, cumCol: String, totCol: String, nCol: String): DataFrame = {
    // cast + coalesce: a non-double valueCol (decimal, int) or an
    // all-NULL partition must not blow up the driver-side getDouble
    val (joined, totals) = twoPhase(df, keys,
      w => Seq("_lrn" -> row_number().over(w),
        "_lcum" -> sum(valueCol).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))),
      Seq("_soff" -> coalesce(sum(valueCol.cast("double")), lit(0.0)),
        "_coff" -> count(lit(1))))
    joined
      .withColumn(rankCol, (col("_lrn") + col("_coff")).cast("int"))
      .withColumn(cumCol, col("_lcum") + col("_soff"))
      .withColumn(totCol, lit(totals(0)))
      .withColumn(nCol, lit(totals(1)))
      .drop("_pid", "_lrn", "_lcum", "_soff", "_coff")
  }

  /** Global rank over `keys` with the same two execution shapes as
    * [[abc]] (SURVEY §2.6 O1/O2 at scale): a global-window
    * `row_number` below the threshold, the range-partition + offset
    * reconstruction above it. Ranks are exact integers either way, so
    * results are identical — only the plan shape changes.
    */
  def rankBy(df: DataFrame, keys: Seq[Column], rankCol: String): DataFrame = {
    requireNoTempCollision(df)
    if (autoTwoPhase(df)) rankTwoPhase(df, keys, rankCol)
    else df.withColumn(rankCol, row_number().over(Window.orderBy(keys: _*)))
  }

  /** Global `dense_rank` over `keys` with the same dispatch as
    * [[rankBy]] (the band-group window, otherwise an undispatched global
    * window on the parity path). Two-phase
    * correctness: range partitioning sends EQUAL key tuples to the same
    * partition, so per-partition local dense ranks never split a group,
    * and the global dense rank is local + the cumulative max local
    * dense rank of the preceding partitions (an exclusive scan over a
    * P-row collect, like rankBy's row-count offsets).
    */
  def denseRankBy(df: DataFrame, keys: Seq[Column], rankCol: String): DataFrame = {
    requireNoTempCollision(df)
    if (autoTwoPhase(df)) denseRankTwoPhase(df, keys, rankCol)
    else df.withColumn(rankCol, dense_rank().over(Window.orderBy(keys: _*)).cast("int"))
  }

  private def denseRankTwoPhase(df: DataFrame, keys: Seq[Column], rankCol: String): DataFrame =
    // each partition's distinct-group count is its max local dense rank
    twoPhase(df, keys, w => Seq("_lrn" -> dense_rank().over(w)),
      Seq("_coff" -> max("_lrn").cast("long")))._1
      .withColumn(rankCol, (col("_lrn") + col("_coff")).cast("int"))
      .drop("_pid", "_lrn", "_coff")

  private def rankTwoPhase(df: DataFrame, keys: Seq[Column], rankCol: String): DataFrame =
    twoPhase(df, keys, w => Seq("_lrn" -> row_number().over(w)),
      Seq("_coff" -> count(lit(1))))._1
      .withColumn(rankCol, (col("_lrn") + col("_coff")).cast("int"))
      .drop("_pid", "_lrn", "_coff")

  /** Shared tail: pct / forced-1.0 cumulative / ABC classes from the
    * rank, total, cumulative and row-count columns.
    */
  private def classify(df: DataFrame, valueCol: Column): DataFrame =
    df
      .withColumn("pct", dround(valueCol / col("_tot"), 6))
      .withColumn("_cum_raw", col("_cum") / col("_tot"))
      .withColumn(
        "pct_acumulado",
        when(col("rnk") === col("_n"), lit(1.0)).otherwise(dround(col("_cum_raw"), 6)),
      )
      .withColumn(
        "clase_abc",
        when(col("rnk") === 1, "A")
          .when(col("_cum_raw") <= GraftConf.abcA, "A")
          .when(col("_cum_raw") <= GraftConf.abcB, "B")
          .otherwise("C"),
      )
      .drop("_cum_raw", "_n", "_cum", "_tot")
}
