package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.HadoopFs

/** qd20b's HLL++ NDV sketch, checked the way approximate operators are
  * checked here: error-floored against the exact twin (qd20) rather
  * than hash-matched, plus the property that makes the sketch safe at
  * scale — merge-order / partitioning independence.
  */
class SketchSpec extends AnyFunSuite {
  import SparkSpecBase.{spark, sf}

  /** The sf0.01 fixture next to the suite's sf0.001 one. */
  private val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString

  test("qd20b HLL NDV stays within 6% of the exact twin per source") {
    // rsd 0.02 → ~2% typical error; 6% is the 3σ envelope. A miss
    // here means the sketch config (or Spark's HLL impl) changed.
    val exact = queries.TextQueries.qd20(spark, sf)
      .select(col("source"), col("ndv_tokens"))
    val approx = queries.TextQueries.qd20b(spark, sf)
      .select(col("source"), col("ndv_approx"), col("total_tokens"))
    val joined = approx.join(exact, Seq("source"))
      .withColumn("rel_err",
        abs(col("ndv_approx") - col("ndv_tokens")) / col("ndv_tokens"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val err = r.getAs[Double]("rel_err")
      assert(err <= 0.06,
        s"source ${r.getAs[String]("source")}: HLL rel err $err > 0.06 " +
          s"(approx ${r.getAs[Long]("ndv_approx")} vs exact ${r.getAs[Long]("ndv_tokens")})")
    }
  }

  test("qd21b CMS estimates respect both one-sided bounds vs the exact twin") {
    // CMS never undercounts; with eps=2e-4 and the corpus' token total
    // N, the overcount is <= eps*N at 99% confidence per item — and the
    // whole computation is seeded, so this is a deterministic check,
    // not a flaky probabilistic one. We allow 2*eps*N slack: the
    // min-of-depth estimate decays geometrically past eps*N, and the
    // doubled bound holds for every watchlist item at any seed that
    // passes once.
    val exact = queries.TextQueries.qd21(spark, sf).select(col("tok"), col("n"))
    val est = queries.TextQueries.qd21b(spark, sf)
    val totalN = queries.TextQueries.qd20(spark, sf)
      .agg(sum("total_tokens")).collect()(0).getLong(0)
    val slack = math.max(1L, (2 * 2e-4 * totalN).toLong)
    val joined = est.join(exact, Seq("tok")).collect()
    // the synthetic corpus' vocabulary may be smaller than K — the
    // watchlist is whatever the exact top-K returned, and every row of
    // it must be covered
    assert(joined.nonEmpty && joined.length == exact.count(),
      s"watchlist coverage: ${joined.length} vs ${exact.count()}")
    joined.foreach { r =>
      val (e, n) = (r.getAs[Long]("est_n"), r.getAs[Long]("n"))
      assert(e >= n,
        s"token ${r.getAs[String]("tok")}: CMS undercount $e < $n — " +
          "insert/probe representations have diverged")
      assert(e <= n + slack,
        s"token ${r.getAs[String]("tok")}: CMS overcount $e > $n + $slack")
    }
  }

  test("q32b GK percentile sketch stays within its rank-error bound of the exact twin") {
    // percentile_approx(accuracy=A) guarantees the returned element's
    // RANK is within n/A of the target rank. Translate that into a
    // value bound by checking the approx value falls between the exact
    // cents at ranks ceil(p·n) ± ceil(n/A) (+1 slack rank on each side
    // for the ceil convention) — a value-space epsilon would be wrong
    // for skewed distributions.
    val exact = queries.EventQueries.q32(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val approx = queries.EventQueries.q32b(spark, sf).collect()
    assert(approx.nonEmpty && approx.length == exact.size)
    val ev = graft.operators.EventTime.withUs(Tables.events(spark, sf))
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      .cache()
    approx.foreach { a =>
      val et = a.getAs[String]("event_type")
      val n = a.getAs[Long]("n_events")
      assert(n == exact(et).getAs[Long]("n_events"))
      val sorted = ev.filter(col("event_type") === et)
        .orderBy("cents").collect().map(_.getLong(1))
      val slackRanks = n / 10000 + 1
      for ((pname, p) <- Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99))) {
        val cents = math.round(a.getAs[Double](pname) * 100)
        val target = math.ceil(p * n).toLong
        val lo = sorted(math.max(0, target - slackRanks - 1).toInt)
        val hi = sorted(math.min(n - 1, target + slackRanks - 1).toInt)
        assert(cents >= lo && cents <= hi,
          s"$et $pname: approx $cents outside rank-bound [$lo, $hi]")
      }
    }
    ev.unpersist()
  }

  test("qd20b is partitioning-independent: any repartition yields the same sketch") {
    // HLL registers merge by max — commutative and associative — and
    // the underlying hash is seedless, so the estimate must not depend
    // on how the token stream is split across tasks. This is the
    // property that makes the sketch a safe 100 TB primitive (a
    // per-partition-seeded draw, by contrast, changes under AQE).
    val base = queries.TextQueries.qd20b(spark, sf)
    val shuffled = {
      val docsRe = Tables.documents(spark, sf).repartition(7, col("doc_id"))
      docsRe
        .select(col("source"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("source")
        .agg(
          approx_count_distinct(col("tok"), 0.02).as("ndv_approx"),
          count(lit(1)).as("total_tokens"))
    }
    assert(base.exceptAll(shuffled).count() == 0 &&
      shuffled.exceptAll(base).count() == 0,
      "HLL estimate drifted under a different input partitioning")
  }

  test("qe28 PCA: orthonormal basis, ordered variance, norm-contractive projection") {
    val spark = SparkSpecBase.spark
    val dir = "/root/testdata/sf0.01"
    val fit = queries.VectorQueries.pcaFit(spark, dir, 8)
    // explained variance is non-increasing and positive
    val ev = fit.explainedVariance
    assert(ev.forall(_ > 0.0))
    ev.sliding(2).foreach {
      case Array(a, b) => assert(a >= b - 1e-12)
      case _ =>
    }
    // the 64x8 loading matrix has orthonormal columns
    val pc = fit.components
    for (i <- 0 until 8; j <- i until 8) {
      var dot = 0.0
      for (r <- 0 until pc(i).length) dot += pc(i)(r) * pc(j)(r)
      if (i == j) assert(math.abs(dot - 1.0) < 1e-9, s"col $i not unit norm")
      else assert(math.abs(dot) < 1e-9, s"cols $i,$j not orthogonal")
    }
    // projections: one row per vector; an orthonormal projection never
    // grows a vector's norm (PCA here does not mean-center, so the
    // bound holds against the RAW norm)
    val out = queries.VectorQueries.qe28(spark, dir).cache()
    val e = Tables.embeddings(spark, dir)
    assert(out.count() == e.count())
    val projNorm = sqrt((0 until 8).map(i => col(s"pc$i") * col(s"pc$i"))
      .reduce(_ + _))
    val joined = out.join(
      e.select(col("vec_id"), sqrt(aggregate(
        transform(col("embedding"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (a, x) => a + x)).as("full_norm")), Seq("vec_id"))
    assert(joined.filter(projNorm > col("full_norm") + 1e-6).count() == 0)
    // deterministic under repartitioning
    val again = queries.VectorQueries.qe28(spark, dir)
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
    out.unpersist()
  }

  test("pcaFit agrees with Spark ML's PCA on the sf0.01 embeddings") {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.array_to_vector
    val dir = sf01
    val fit = queries.VectorQueries.pcaFit(spark, dir, 8)
    val e = Tables.embeddings(spark, dir)
      .select(array_to_vector(col("embedding").cast("array<double>")).as("fvec"))
    val ml = new PCA().setK(8).setInputCol("fvec").fit(e)
    val mlEv = ml.explainedVariance.toArray
    assert(fit.explainedVariance.length == 8 && fit.components.forall(_.length == 64))
    fit.explainedVariance.zip(mlEv).zipWithIndex.foreach { case ((a, b), i) =>
      assert(math.abs(a - b) <= 1e-9, s"explained variance $i: $a vs MLlib $b")
    }
    fit.components.zipWithIndex.foreach { case (c, i) =>
      // both are unit vectors, so the cosine is the dot product
      val cos = c.indices.map(r => c(r) * ml.pc(r, i)).sum
      assert(math.abs(cos) >= 1 - 1e-9, s"component $i: |cos| ${math.abs(cos)} vs MLlib")
      assert(c.maxBy(math.abs) > 0, s"component $i: largest coordinate not positive")
    }
  }

  test("a cold pcaBuild runs one aggregate job and one parquet write") {
    val dir = sf01
    Tables.embeddings(spark, dir) // the schema memo is warm, as after any read
    val path = java.nio.file.Files.createTempDirectory("graft_pca").toString
    try {
      assert(SparkSpecBase.jobsDuring(queries.VectorQueries.pcaBuild(spark, dir, path)) == 2)
      val basis = HadoopFs.parquet(spark, s"$path/basis").orderBy("pc_id").collect()
      val fit = queries.VectorQueries.pcaFit(spark, dir, 8)
      assert(basis.map(_.getInt(0)).toSeq == (0 until 8))
      assert(basis.map(_.getSeq[Double](1)).toSeq == fit.components.toSeq.map(_.toSeq))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
  }

  test("the Jacobi eigensolver diagonalizes and refuses degenerate PCA inputs") {
    val a = Array(Array(4.0, 1.0, 2.0), Array(1.0, 3.0, 0.5), Array(2.0, 0.5, 5.0))
    val (vals, v) = graft.operators.PrincipalComponents.symmetricEigen(a)
    // A v_c = λ_c v_c for every column c, and V is orthogonal
    for (c <- 0 until 3; r <- 0 until 3) {
      val av = (0 until 3).map(k => a(r)(k) * v(k)(c)).sum
      assert(math.abs(av - vals(c) * v(r)(c)) < 1e-12)
    }
    for (c <- 0 until 3; c2 <- 0 until 3) {
      val d = (0 until 3).map(r => v(r)(c) * v(r)(c2)).sum
      assert(math.abs(d - (if (c == c2) 1.0 else 0.0)) < 1e-12)
    }
    assert(math.abs(vals.sum - 12.0) < 1e-12, "the trace is preserved")
    import spark.implicits._
    def fitOf(vs: Seq[Array[Double]], k: Int) =
      graft.operators.PrincipalComponents.fit(vs.toDF("v"), k)
    // a length mismatch can surface inside a task, wrapped by the scheduler
    def failsWith(msg: String)(body: => Any): Unit = {
      val e = intercept[Exception](body)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(msg)), e.toString)
    }
    failsWith("at least 2 vectors")(fitOf(Seq(Array(1.0, 2.0)), 1))
    failsWith("k must be in [1, 2]")(fitOf(Seq(Array(1.0, 2.0), Array(3.0, 1.0)), 3))
    failsWith("equal vector lengths")(fitOf(Seq(Array(1.0, 2.0), Array(3.0)), 1))
  }

  test("qe29 dim sweep: full-dim endpoint exactly 1.0, recalls in range") {
    val rows = queries.VectorQueries.qe29(SparkSpecBase.spark, "/root/testdata/sf0.01")
      .orderBy("dim").collect()
    assert(rows.map(_.getAs[Int]("dim")).toSeq == Seq(8, 16, 32, 64))
    rows.foreach { r =>
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    assert(rows.last.getAs[Double]("recall") == 1.0,
      "the d = 64 prefix IS the full search")
  }

  test("qe30 silhouette: separated planted clusters score high, singleton pins 0") {
    import SparkSpecBase.spark.implicits._
    // two tight, far-apart clusters + one singleton cluster
    val planted = Seq(
      (0L, 0, Seq(0.0, 0.0)), (1L, 0, Seq(0.1, 0.0)),
      (2L, 1, Seq(10.0, 10.0)), (3L, 1, Seq(10.1, 10.0)),
      (4L, 2, Seq(100.0, 0.0))
    ).toDF("vec_id", "cid", "vec")
    val rows = queries.VectorQueries.silhouetteFrom(planted).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(rows(0).getAs[Double]("mean_silhouette") > 0.9)
    assert(rows(1).getAs[Double]("mean_silhouette") > 0.9)
    assert(rows(2).getAs[Long]("n") == 1L &&
      rows(2).getAs[Double]("mean_silhouette") == 0.0)

    // real corpus: one row per qe9 cluster, silhouettes within [-1, 1]
    val real = queries.VectorQueries.qe30(SparkSpecBase.spark, "/root/testdata/sf0.01")
      .collect()
    assert(real.length == 8)
    assert(real.forall { r =>
      val m = r.getAs[Double]("mean_silhouette"); m >= -1.0 && m <= 1.0
    })
    assert(real.map(_.getAs[Long]("n")).sum == 500L)
  }

  test("qe26 probe sweep: monotone curve, exact endpoints at nprobe = nlist") {
    // r17: the sweep points run on concurrent driver threads; the frame
    // must still come out in ascending-nprobe sweep order BEFORE any
    // re-sort — completion order leaking into assembly would be the
    // concurrency bug this pins against
    val raw = queries.VectorQueries.qe26(SparkSpecBase.spark, "/root/testdata/sf0.01")
      .collect()
    assert(raw.map(_.getAs[Int]("nprobe")).toSeq ==
      raw.map(_.getAs[Int]("nprobe")).toSeq.sorted,
      "sweep rows must be assembled in sweep order, not completion order")
    val rows = raw.sortBy(_.getAs[Int]("nprobe"))
    assert(rows.length >= 4)
    // recall and scanned fraction are monotone non-decreasing in nprobe
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Double]("recall") <= b.getAs[Double]("recall") + 1e-12)
        assert(a.getAs[Double]("scanned_frac") <= b.getAs[Double]("scanned_frac") + 1e-12)
      case _ =>
    }
    rows.foreach { r =>
      val rec = r.getAs[Double]("recall")
      val sc = r.getAs[Double]("scanned_frac")
      assert(rec >= 0.0 && rec <= 1.0 && sc > 0.0 && sc <= 1.0)
    }
    // probing every list IS the exact search: both endpoints pin to 1.0
    val last = rows.last
    assert(last.getAs[Double]("recall") == 1.0,
      "nprobe = nlist must recover the exact top-k")
    assert(last.getAs[Double]("scanned_frac") == 1.0,
      "nprobe = nlist must scan the whole corpus")
  }

  test("qd30b KMV overlap: jaccard within the bottom-k envelope of exact qd30") {
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val exact = queries.TextQueries.qd30(spark, dir)
        .select("source_a", "source_b", "shared_grams", "jaccard")
      val est = queries.TextQueries.qd30b(spark, dir)
      val joined = est.join(exact, Seq("source_a", "source_b"), "full_outer").collect()
      assert(joined.nonEmpty)
      joined.foreach { r =>
        // qd30b scores EVERY pair; exact qd30 omits zero-overlap pairs —
        // a null exact side means true jaccard 0. The est side is never
        // null (the sketch frame is the cross of all sources).
        assert(!r.isNullAt(r.fieldIndex("est_jaccard")),
          s"pair ${r.get(0)}-${r.get(1)}: missing from the sketch frame")
        val exactNull = r.isNullAt(r.fieldIndex("jaccard"))
        val j = if (exactNull) 0.0 else r.getAs[Double]("jaccard")
        val sh = if (exactNull) 0L else r.getAs[Long]("shared_grams")
        val ej = r.getAs[Double]("est_jaccard")
        // k=256 → σ ≈ sqrt(j(1-j)/k) ≤ 0.031; 0.1 is a >3σ envelope
        assert(math.abs(ej - j) <= 0.1,
          s"pair ${r.get(0)}-${r.get(1)}: |$ej - $j| > 0.1")
        val es = r.getAs[Double]("est_shared")
        if (sh >= 200)
          assert(math.abs(es - sh) / sh <= 0.35,
            s"pair ${r.get(0)}-${r.get(1)}: est_shared $es vs $sh rel err > 0.35")
      }
    }
  }

  test("qe14 PQ codebook is partitioning-independent: rounded means make the fit a set function") {
    // the property the r13 qe14/qe14b/qe20 oracles lean on: the
    // per-(sub, code, dim) means are 6dp-rounded, so a different
    // shuffle partitioning (different FP summation association inside
    // avg) must yield the SAME codebook — without the rounding this
    // drifts in the last ulps and every downstream argmin inherits it
    val base = queries.VectorQueries.pqFitCodebook(spark, sf)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    val re =
      try queries.VectorQueries.pqFitCodebook(spark, sf)
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(base.length == re.length)
    for (sub <- base.indices) {
      assert(base(sub).length == re(sub).length)
      for (c <- base(sub).indices)
        assert(base(sub)(c) == re(sub)(c),
          s"codebook drifted under repartitioning at sub=$sub code=$c")
    }
  }

  test("qd30b is partitioning-independent: any repartition yields the same sketch") {
    // bottom-k of a seedless hash is a set function of the input — the
    // per-partition slice / merge decomposition must be invisible
    // (same argument as qd20b; a sketch that drifts under AQE is not a
    // 100 TB primitive)
    import org.apache.spark.sql.functions.col
    val base = queries.TextQueries.qd30b(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    val re = {
      // same operator over a differently-partitioned docs scan: rebuild
      // through the registered query on a repartitioned temp view is
      // not possible (queries read the dir), so approximate by checking
      // determinism across two runs with different shuffle partitioning
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      try queries.TextQueries.qd30b(spark, sf).collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    assert(base == re, "KMV sketch drifted under a different partitioning")
  }
}
