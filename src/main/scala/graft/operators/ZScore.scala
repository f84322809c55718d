package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Rounding.dround

/** Two-pass z-score outlier flagging (SURVEY §2.4 A16;
  * /root/reference/src/reporte_cxc.py:219-281,
  * /root/reference/src/auditor.py:173-265).
  *
  * pandas `.std()` is sample std (ddof=1) → `stddev_samp`, NOT
  * `stddev_pop` (SURVEY §7.6.3). Guards match the reference: n ≥ 3 and
  * σ > 0, else no flags.
  *
  * Distributed shape: pass 1 is a scalar aggregate (map-side partial,
  * single tiny result) broadcast back via a cross join with a 1-row
  * DataFrame — no collect, no driver round-trip in the plan, and the
  * projection stays in whole-stage codegen.
  */
object ZScore {

  def withZScore(
      df: DataFrame,
      value: Column,
      zName: String,
      flagName: String,
      threshold: Double,
  ): DataFrame = withZScores(df, Seq((value, zName, flagName)), threshold)

  /** Several z-scores over one frame, each spec `(value, zName, flagName)`:
    * ONE aggregate computes every spec's (μ, σ, n) and ONE broadcast
    * cross join carries them back, where chained [[withZScore]] calls
    * would run an aggregate job and a cross join per spec. Columns are
    * appended in spec order, z before flag, exactly as the chain
    * appends them, and every value is the chain's bit for bit: each
    * statistic aggregates the same rows of the same partitions.
    */
  def withZScores(
      df: DataFrame,
      specs: Seq[(Column, String, String)],
      threshold: Double,
  ): DataFrame = {
    require(specs.nonEmpty, "withZScores needs at least one (value, zName, flagName) spec")
    def mu(i: Int) = s"_mu$i"
    def sigma(i: Int) = s"_sigma$i"
    def nn(i: Int) = s"_nn$i"
    val aggs = specs.zipWithIndex.flatMap { case ((value, _, _), i) =>
      Seq(avg(value).as(mu(i)), stddev_samp(value).as(sigma(i)), count(value).as(nn(i)))
    }
    val stats = df.agg(aggs.head, aggs.tail: _*)
    specs.zipWithIndex
      .foldLeft(df.crossJoin(broadcast(stats))) { case (d, ((value, zName, flagName), i)) =>
        d.withColumn(
            zName,
            when(
              col(nn(i)) >= 3 && col(sigma(i)) > 0,
              dround(abs((value - col(mu(i))) / col(sigma(i))), 4),
            ),
          )
          .withColumn(flagName, coalesce(col(zName) > threshold, lit(false)))
      }
      .drop(specs.indices.flatMap(i => Seq(mu(i), sigma(i), nn(i))): _*)
  }
}
