package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Rounding.dround

class CoreQueriesSpec extends AnyFunSuite {
  import SparkSpecBase.{spark, sf}

  test("every registered query returns rows on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name: no columns")
      assert(df.limit(1).count() > 0, s"$name: empty result")
    }
  }

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query key has either an oracle or a documented omission") {
    // Core relational queries must all be oracle-checked. The one
    // q-numbered exception: q32b is sketch-class (GK percentile state
    // is engine-side, like qd20b/qd21b) — its evidence is the
    // rank-error bound vs the exact q32 twin in SketchSpec.
    val sketchTwins = Set("q32b_percentiles_sketch")
    val missing = SparkEntry.queries.keySet
      .filter(_.startsWith("q")) -- SparkEntry.oracleSql.keySet -- sketchTwins
    assert(missing.forall(!_.matches("q\\d.*")), s"core queries missing oracle: $missing")
  }

  test("lineitem->orders referential integrity (q22's single-scan rewrite assumes it)") {
    // q22 sums pagos_totales/cobros_periodo THROUGH the orders join
    // while the DuckDB oracle sums all of lineitem; the two agree only
    // when every lineitem row carries a non-null l_orderkey that exists
    // in orders. Pin the generator invariant here so a
    // testdata change surfaces as this assertion, not as an opaque
    // oracle hash mismatch.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val li = Tables.lineitem(spark, dir).select("l_orderkey")
      assert(li.filter(col("l_orderkey").isNull).isEmpty,
        s"$dir: null l_orderkey rows break q22's join-side payment sums")
      val orphans = li.join(Tables.orders(spark, dir).select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      assert(orphans.isEmpty,
        s"$dir: orphaned lineitem rows break q22's join-side payment sums")
    }
  }

  test("q06 aging: TOTAL row equals sum of buckets, pct sums to ~1") {
    val rows = queries.CoreQueries.q06(spark, sf).collect()
    val total = rows.find(_.getString(0) == "TOTAL").get
    val buckets = rows.filter(_.getString(0) != "TOTAL")
    assert(total.getLong(2) == buckets.map(_.getLong(2)).sum)
    assert(math.abs(buckets.map(_.getDouble(4)).sum - 1.0) < 1e-4)
  }

  test("q08 pareto: rank-1 row is class A and last cumulative share is 1.0") {
    val rows = queries.CoreQueries.q08(spark, sf).collect()
    val byRank = rows.sortBy(_.getAs[Int]("rnk"))
    assert(byRank.head.getAs[String]("clase_abc") == "A")
    assert(byRank.last.getAs[Double]("pct_acumulado") == 1.0)
    // cumulative share is non-decreasing
    val cums = byRank.map(_.getAs[Double]("pct_acumulado"))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b + 1e-9 })
  }

  test("q07 running balance: last value per account equals account net sum") {
    val df = queries.CoreQueries.q07(spark, sf)
    val last = df
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("acct")
          .orderBy(col("d").desc, col("docid").desc, col("sub").desc, col("amt").desc)))
      .filter(col("rn") === 1)
      .select("acct", "running_balance")
    // `amt` is rounded per row but the running sum accumulates unrounded
    // values — allow half-cent-per-row drift.
    val sums = df.groupBy("acct")
      .agg(sum("amt").as("s"), (count(lit(1)) * 0.005 + 0.01).as("tol"))
    val joined = last.join(sums, "acct")
      .filter(abs(col("running_balance") - col("s")) > col("tol"))
    assert(joined.count() == 0)
  }

  test("dround matches DuckDB round-half-away-from-zero semantics") {
    val df = spark.createDataFrame(Seq(
      Tuple1(-19570.814999999997), Tuple1(2.675), Tuple1(-2.675),
      Tuple1(0.005), Tuple1(-0.005), Tuple1(1.0049999999999999))).toDF("x")
    val got = df.select(dround(col("x"), 2).as("r")).collect().map(_.getDouble(0))
    // copysign(floor(|x*100|+0.5), x)/100 computed on the binary double:
    val exp = Seq(-19570.814999999997, 2.675, -2.675, 0.005, -0.005, 1.0049999999999999)
      .map(x => math.copySign(math.floor(math.abs(x * 100) + 0.5), x) / 100)
    assert(got.toSeq == exp)
  }

  test("zscore: guards produce no flags on tiny input, flags on outlier") {
    import spark.implicits._
    val tiny = Seq(1.0, 2.0).toDF("v")
    val z = operators.ZScore.withZScore(tiny, col("v"), "z", "flag", 3.0)
    assert(z.filter(col("flag")).count() == 0)
    val base = Seq.fill(30)(10.0) ++ Seq(10.5, 9.5, 1000.0)
    val z2 = operators.ZScore.withZScore(base.toDF("v"), col("v"), "z", "flag", 3.0)
    assert(z2.filter(col("flag")).count() == 1)
  }

  test("zscore: one withZScores call equals chained withZScore calls bit for bit") {
    import spark.implicits._
    // `flat` is constant (σ = 0), `sparse` has two non-nulls (n < 3),
    // `v` is ordinary with one planted outlier
    val rows = (0 until 33).map { i =>
      val v = if (i == 32) 1000.0 else 10.0 + (i % 7) * 0.37
      (i, v, 5.0, if (i < 2) Some(i.toDouble) else None)
    }
    val df = rows.toDF("id", "v", "flat", "sparse")
    val specs = Seq(
      (col("flat"), "z_flat", "f_flat"),
      (col("sparse"), "z_sparse", "f_sparse"),
      (col("v"), "z_v", "f_v"))
    val one = operators.ZScore.withZScores(df, specs, 3.0)
    val chained = specs.foldLeft(df) { case (d, (c, z, f)) =>
      operators.ZScore.withZScore(d, c, z, f, 3.0)
    }
    assert(one.columns.toSeq == chained.columns.toSeq)
    assert(one.columns.toSeq ==
      Seq("id", "v", "flat", "sparse", "z_flat", "f_flat", "z_sparse", "f_sparse", "z_v", "f_v"))
    def bits(d: org.apache.spark.sql.DataFrame) = d.orderBy("id").collect().toSeq.map(
      _.toSeq.map {
        case x: Double => java.lang.Double.doubleToRawLongBits(x)
        case other => other
      })
    assert(bits(one) == bits(chained))
    // the guards held: no z where σ = 0 or n < 3, one flag on the outlier
    val z = one.orderBy("id").collect()
    assert(z.forall(r => r.isNullAt(r.fieldIndex("z_flat")) && !r.getAs[Boolean]("f_flat")))
    assert(z.forall(r => r.isNullAt(r.fieldIndex("z_sparse")) && !r.getAs[Boolean]("f_sparse")))
    assert(z.count(_.getAs[Boolean]("f_v")) == 1 && z.last.getAs[Boolean]("f_v"))
  }

  test("buckets: partition is complete and ordinals are dense") {
    val r = GraftConf.agingRanges
    // every integer in [-1000, 3000] falls in exactly one bucket
    import spark.implicits._
    val df = (-1000 to 3000).toDF("d")
      .withColumn("b", operators.Buckets.bucketize(col("d"), r, "fuera_de_rango"))
    assert(df.filter(col("b") === "fuera_de_rango").count() == 0)
    assert(df.select("b").distinct().count() == r.size)
  }
}
