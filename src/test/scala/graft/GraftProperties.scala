package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._

import graft.operators.{Buckets, Pareto, Rounding}

/** Property-based invariants (SURVEY §5.4): each property evaluates a
  * whole generated batch through Spark in one job.
  */
object GraftProperties extends Properties("graft") {
  import SparkSpecBase.spark
  import spark.implicits._

  // Pin the generator seed so `sbt test` is reproducible run-to-run:
  // a property that passes or fails by generator luck is not a gate.
  // Any falsifying case found by bumping the seed
  // locally must be promoted to a deterministic regression below.
  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withInitialSeed(org.scalacheck.rng.Seed(20260814L))
      .withTestCallback(p.testCallback.chain(PropTimes))

  // ScalaCheck suites report no durations to the JUnit XML, so each
  // property's `Test.Result.time` goes to one `name<TAB>seconds<TAB>passed`
  // line of target/test-reports/PROPTIMES-graft.GraftProperties.tsv,
  // which tools/testcost.py lists. The sbt runner checks one property at
  // a time and reports each result under an empty name, so every
  // property marks itself current as it evaluates.
  @volatile private var current = ""

  override def properties: scala.collection.Seq[(String, Prop)] =
    super.properties.map { case (n, prop) => n -> prop.contramap { gp => current = n; gp } }

  private object PropTimes extends org.scalacheck.Test.TestCallback {
    private lazy val out = {
      val f = new java.io.File("target/test-reports/PROPTIMES-graft.GraftProperties.tsv")
      f.getParentFile.mkdirs()
      new java.io.PrintWriter(new java.io.FileWriter(f), true)
    }

    override def onTestResult(name: String, r: org.scalacheck.Test.Result): Unit =
      synchronized {
        out.println(s"${if (name.nonEmpty) name else current}\t${r.time / 1000.0}\t${r.passed}")
      }
  }

  private val finiteD: Gen[Double] =
    Gen.chooseNum(-1e9, 1e9).suchThat(d => !d.isNaN && !d.isInfinite)

  property("dround matches copysign(floor(|x*10^s|+0.5))/10^s for s=2") =
    forAll(Gen.listOfN(50, finiteD)) { xs =>
      xs.isEmpty || {
        val got = xs.toDF("x").select(Rounding.dround(col("x"), 2)).collect().map(_.getDouble(0))
        val exp = xs.map(x => math.copySign(math.floor(math.abs(x * 100) + 0.5), x) / 100)
        got.toSeq == exp
      }
    }

  property("droundD (scalar twin) is bit-identical to the dround Column for s=2 and s=6") =
    // the streaming anomaly detector computes z driver-side with
    // droundD while its batch twin uses the Column dround — parity
    // tests compare them for exact equality, so the two MUST round
    // every double identically
    forAll(Gen.listOfN(50, finiteD)) { xs =>
      xs.isEmpty || Seq(2, 6).forall { s =>
        val got = xs.toDF("x").select(Rounding.dround(col("x"), s))
          .collect().map(_.getDouble(0))
        val exp = xs.map(x => Rounding.droundD(x, s))
        got.toSeq == exp
      }
    }

  property("dround is idempotent") =
    forAll(Gen.listOfN(50, finiteD)) { xs =>
      xs.isEmpty || {
        val once = xs.toDF("x").select(Rounding.dround(col("x"), 2).as("r"))
        val twice = once.select(Rounding.dround(col("r"), 2)).collect().map(_.getDouble(0))
        val onceV = once.collect().map(_.getDouble(0))
        twice.toSeq == onceV.toSeq
      }
    }

  property("aging bucketize is a total partition with dense ordinals") =
    forAll(Gen.listOfN(100, Gen.chooseNum(-5000, 5000))) { days =>
      days.isEmpty || {
        val df = days.toDF("d")
          .withColumn("b", Buckets.bucketize(col("d"), GraftConf.agingRanges, "OUT"))
          .withColumn("o", Buckets.bucketOrdinal(col("b"), GraftConf.agingRanges))
        val rows = df.collect()
        rows.forall(_.getString(1) != "OUT") &&
          rows.forall(r => r.getInt(2) >= 0 && r.getInt(2) < GraftConf.agingRanges.size)
      }
    }

  property("pareto abc: pct sums to ~1, cumulative monotone, ends exactly at 1.0") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(1.0, 100000.0))) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, math.rint(v * 100) / 100) }
        .toDF("k", "v")
      val out = Pareto.abc(df, col("k"), col("v")).collect()
      val byRank = out.sortBy(_.getAs[Int]("rnk"))
      val cums = byRank.map(_.getAs[Double]("pct_acumulado"))
      math.abs(out.map(_.getAs[Double]("pct")).sum - 1.0) < 1e-3 &&
        cums.zip(cums.tail).forall { case (a, b) => a <= b + 1e-9 } &&
        cums.last == 1.0 &&
        byRank.head.getAs[String]("clase_abc") == "A"
    }

  property("settlement balance: sum(saldo) == sum(charges) - sum(linked payments)") =
    forAll(Gen.chooseNum(1, 30), Gen.chooseNum(0L, 1000L)) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      val charges = (1 to n).map(i => (i.toLong, math.rint(rnd.nextDouble() * 1e6) / 100))
      val pays = charges.filter(_ => rnd.nextBoolean()).map { case (id, amt) =>
        (id, math.rint(amt * rnd.nextDouble() * 100) / 100)
      }
      val cDf = charges.toDF("id", "amt")
      val pDf = pays.toDF("link", "pamt")
      val saldo = operators.Balances.settlementBalance(
        cDf, pDf, "id", "link", col("amt"), col("pamt"))
      val got = saldo.agg(sum("saldo")).collect()(0).getDouble(0)
      val exp = charges.map(_._2).sum - pays.map(_._2).sum
      math.abs(got - exp) <= 0.005 * n + 1e-6
    }

  property("running balance: last value per group equals the group sum") =
    forAll(Gen.chooseNum(1, 40), Gen.chooseNum(0L, 500L)) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      val rows = (1 to n).map(i =>
        (rnd.nextInt(3).toLong, i.toLong, math.rint((rnd.nextDouble() - 0.5) * 2e5) / 100))
      val df = rows.toDF("g", "ord", "amt")
      val rb = operators.Balances.runningBalance(
        df, Seq(col("g")), Seq(col("ord").asc), col("amt"))
      val last = rb.withColumn("rn",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy(col("ord").desc)))
        .filter(col("rn") === 1).select(col("g"), col("running_balance"))
      val sums = df.groupBy("g").agg(sum("amt").as("s"))
      last.join(sums, Seq("g"))
        .filter(abs(col("running_balance") - col("s")) > 0.011).count() == 0
    }

  property("pareto: two-phase prefix sum == global window (rank, pct, cum, class)") =
    forAll(Gen.chooseNum(1, 60), Gen.chooseNum(0L, 500L)) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      val rows = (1 to n).map(i => (s"k$i", math.rint(rnd.nextDouble() * 1e6) / 100))
      val df = rows.toDF("k", "v").repartition(4)
      def snap(two: Boolean) = SparkSpecBase.withParetoTwoPhase(two) {
        operators.Pareto.abc(df, col("k"), col("v"))
          .select("k", "rnk", "pct", "pct_acumulado", "clase_abc").collect()
          .map(r => r.getString(0) ->
            (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getString(4))).toMap
      }
      snap(two = false) == snap(two = true)
    }

  property("rankCumBy refuses output names that collide with its two-phase internals (ADVICE r15)") =
    forAll(Gen.oneOf("_pid", "_lrn", "_lcum", "_soff", "_coff")) { bad =>
      val df = Seq(("a", 1.0)).toDF("k", "v")
      scala.util.Try(operators.Pareto.rankCumBy(
        df, Seq(col("v").desc), col("v"), "rnk", bad, "tot", "n")).isFailure &&
      // abc's own intermediates (_cum/_tot/_n) stay legal output names
      scala.util.Try(operators.Pareto.rankCumBy(
        df, Seq(col("v").desc), col("v"), "rnk", "_cum", "_tot", "_n")).isSuccess
    }

  property("denseRankBy: two-phase dense rank == global-window dense rank exactly") =
    forAll(Gen.chooseNum(1, 80), Gen.chooseNum(0L, 500L)) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      // few distinct values on purpose: dense groups MUST straddle
      // range-partition boundaries for the offset reconstruction to be
      // exercised (equal tuples land in one partition — that is the
      // correctness precondition being tested)
      val rows = (1 to n).map(i => (i.toLong, rnd.nextInt(6).toDouble))
      val df = rows.toDF("k", "v").repartition(4)
      def snap(two: Boolean) = SparkSpecBase.withParetoTwoPhase(two) {
        operators.Pareto.denseRankBy(df, Seq(col("v").asc), "dr")
          .select("k", "dr").collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
      }
      snap(two = false) == snap(two = true)
    }

  property("rankBy: two-phase rank == global-window rank exactly") =
    forAll(Gen.chooseNum(1, 80), Gen.chooseNum(0L, 500L)) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      // duplicate values on purpose: the key tiebreaker must keep the
      // two shapes in exact agreement even across range boundaries
      val rows = (1 to n).map(i => (i.toLong, rnd.nextInt(10).toDouble))
      val df = rows.toDF("k", "v").repartition(4)
      val keys = Seq(col("v").desc, col("k").asc)
      def snap(two: Boolean) = SparkSpecBase.withParetoTwoPhase(two) {
        operators.Pareto.rankBy(df, keys, "rnk")
          .select("k", "rnk").collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
      }
      snap(two = false) == snap(two = true)
    }

  property("withSaldoCliente deterministic under duplicate (ACR,DOCTO,FECHA) triples") =
    forAll(Gen.chooseNum(2, 20), Gen.chooseNum(0L, 300L)) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      // every row shares ONE (ACR, DOCTO, FECHA) triple per group —
      // only FOLIO and amount distinguish rows, so the window order
      // must fall through to the (FOLIO, _MONTO) tiebreakers
      val ts = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
      val rows = (1 to n).map { i =>
        (s"CL${i % 2}", Option.empty[Long], 7L, ts, f"F-${rnd.nextInt(n)}%03d-$i",
          if (rnd.nextBoolean()) "C" else "R",
          math.rint(rnd.nextDouble() * 1e4) / 100, 0.0, "N")
      }
      val df = rows.toDF("NOMBRE_CLIENTE", "DOCTO_CC_ACR_ID", "DOCTO_CC_ID",
        "FECHA_EMISION", "FOLIO", "TIPO_IMPTE", "IMPORTE", "IMPUESTO", "CANCELADO")
      val run1 = cxc.CxcReport.withSaldoCliente(cxc.CxcSchema.normalize(df))
        .select("FOLIO", "SALDO_CLIENTE").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      // different physical partitioning must not change any row's balance
      val run2 = cxc.CxcReport.withSaldoCliente(cxc.CxcSchema.normalize(
          df.repartition(5).sortWithinPartitions(col("IMPORTE").desc)))
        .select("FOLIO", "SALDO_CLIENTE").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      run1 == run2
    }

  property("salted join == plain join on skewed keys (inner and left)") =
    forAll(Gen.chooseNum(1, 80), Gen.chooseNum(2, 8), Gen.chooseNum(0L, 400L)) {
      (n, salts, seed) =>
      val rnd = new scala.util.Random(seed)
      // 80% of big rows land on ONE hot key
      val big = (1 to n).map(i =>
        (if (rnd.nextDouble() < 0.8) 1L else 1L + rnd.nextInt(5), i.toLong,
          rnd.nextDouble()))
        .toDF("k", "row_id", "v")
      val small = (1L to 6L).map(k => (k, s"dim$k")).toDF("k", "name")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "row_id", "v", "name").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
            Option(r.getString(3)).getOrElse("")))
          .sortBy(t => (t._1, t._2)).toSeq
      val plain = canon(big.join(small, Seq("k")))
      val salted = canon(operators.Salting.saltedJoin(
        big, small, "k", col("row_id"), salts))
      // left leg: a big row with no small match must survive exactly once
      val smallSparse = small.filter(col("k") =!= 1L)
      val plainL = canon(big.join(smallSparse, Seq("k"), "left"))
      val saltedL = canon(operators.Salting.saltedJoin(
        big, smallSparse, "k", col("row_id"), salts, "left"))
      plain == salted && plainL == saltedL
    }

  property("jaccard symmetric and within [0,1]") =
    forAll(Gen.listOfN(8, Gen.alphaStr.suchThat(_.nonEmpty)),
      Gen.listOfN(8, Gen.alphaStr.suchThat(_.nonEmpty))) { (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
        .select(
          functions.TextFunctions.jaccard(array_distinct(col("a")), array_distinct(col("b"))).as("ab"),
          functions.TextFunctions.jaccard(array_distinct(col("b")), array_distinct(col("a"))).as("ba"))
      val r = df.collect()(0)
      val (ab, ba) = (r.getDouble(0), r.getDouble(1))
      ab == ba && ab >= 0.0 && ab <= 1.0
    }

  // Gen.listOf (not nonEmptyListOf): the empty shingle set must agree
  // too — both forms emit p for every component.
  property("native minhash signature equals the HOF formulation exactly") =
    forAll(Gen.listOf(Gen.alphaNumStr.suchThat(_.nonEmpty)),
      Gen.oneOf(16, 64)) { (shingles, k) =>
      val df = Seq(Tuple1(shingles)).toDF("sh")
        .select(
          functions.TextFunctions.minhashSignature(col("sh"), k).as("nat"),
          functions.TextFunctions.minhashSignatureHof(col("sh"), k).as("hof"))
      val r = df.collect()(0)
      r.getSeq[Long](0) == r.getSeq[Long](1)
    }

  // the Bloom probe's structural guarantee: a filter can false-positive
  // but NEVER false-negative — any array holding an inserted string
  // must return true through the native expression (both the
  // interpreted eval and the codegen'd projection path)
  property("bloom any-contain: inserted strings always hit") =
    forAll(Gen.nonEmptyListOf(Gen.alphaNumStr.suchThat(_.nonEmpty)),
      Gen.listOf(Gen.alphaNumStr.suchThat(_.nonEmpty))) { (inserted, noise) =>
      val bf = org.apache.spark.util.sketch.BloomFilter.create(
        math.max(inserted.size.toLong, 1L), 0.01)
      inserted.foreach(bf.putString)
      val bytes = {
        val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos); bos.toByteArray
      }
      graft.functions.VectorFunctions.registerNative(spark)
      val df = Seq(
        Tuple1(noise :+ inserted.head),       // contains an inserted gram
        Tuple1(List.empty[String]),           // empty array: vacuously false
        // null ELEMENTS are legal for ArrayType(String, containsNull) and
        // must be skipped (no gram), not NPE — in both positions
        Tuple1(List(null.asInstanceOf[String], inserted.head)),
        Tuple1(List(null.asInstanceOf[String]))
      ).toDF("grams").select(
        org.apache.spark.sql.functions.call_function(
          "graft_bloom_any", col("grams"),
          org.apache.spark.sql.functions.lit(bytes)).as("hit"))
      val r = df.collect()
      r(0).getBoolean(0) && !r(1).getBoolean(0) &&
        r(2).getBoolean(0) && !r(3).getBoolean(0)
    }

  property("native word n-grams equal the HOF formulation exactly") =
    forAll(Gen.listOf(Gen.alphaLowerStr.suchThat(_.nonEmpty)), Gen.chooseNum(1, 5)) { (toks, n) =>
      val df = Seq(Tuple1(toks)).toDF("t")
      val r = df.select(
        functions.TextFunctions.wordGrams(col("t"), n).as("nat"),
        functions.TextFunctions.wordGramsHof(col("t"), n).as("hof")).collect()(0)
      r.getSeq[String](0) == r.getSeq[String](1)
    }

  property("hash sampling: monotone in fraction, null-keys never dropped, union = whole at f=1") =
    forAll(Gen.listOf(Gen.option(Gen.chooseNum(0L, 100000L))),
      Gen.chooseNum(0.1, 0.9)) { (keys, f) =>
      keys.isEmpty || {
        val df = keys.toDF("k")
        val small = operators.Sampling.hashSample(df, col("k"), f * 0.5)
        val big = operators.Sampling.hashSample(df, col("k"), f)
        val all = operators.Sampling.hashSample(df, col("k"), 1.0)
        // smaller fraction is a subset of the larger (same hash, lower cut)
        small.exceptAll(big).count() == 0 &&
          // f=1.0 keeps EVERY row — including null keys (sentinel-hashed)
          all.count() == keys.size
      }
    }

  property("mixture epochs partition the weight: counts per epoch match floor/frac semantics") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(0L, 100000L)).map(_.distinct),
      Gen.chooseNum(0.0, 3.0)) { (keys, w) =>
      keys.isEmpty || {
        val df = keys.toDF("doc_id")
        val mixed = operators.Sampling.mixture(Seq(("src", df, w)), "doc_id")
        val full = math.floor(w).toInt
        val byEpoch = mixed.groupBy("_epoch").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        // each full epoch replays every key exactly once
        (0 until full).forall(e => byEpoch.getOrElse(e, 0L) == keys.size) &&
          // the fractional epoch (if any) keeps a subset, never more
          byEpoch.getOrElse(full, 0L) <= keys.size &&
          // nothing beyond the fractional epoch
          byEpoch.keys.forall(_ <= full)
      }
    }

  property("native LSH band buckets equal the literal-plane HOF formulation") = {
    functions.VectorFunctions.registerNative(spark)
    // small bands·r so the HOF form stays under janino's method limit —
    // the native expression is the only form usable at 64×4
    val bands = 8; val r = 3; val dim = 16
    val planes = functions.VectorFunctions.hyperplanes(bands * r, dim)
    forAll(Gen.listOfN(dim, finiteD)) { v =>
      val df = Seq(Tuple1(v)).toDF("v")
      val row = df.select(
        functions.VectorFunctions.lshBandBuckets(col("v"), bands, r, dim).as("nat"),
        functions.VectorFunctions.lshBandBucketsHof(col("v"), planes, bands, r).as("hof"))
        .collect()(0)
      row.getSeq[Int](0) == row.getSeq[Int](1)
    }
  }

  property("native centroid distances equal the literal array(struct) formulation") = {
    // the native loop expression exists because the literal unroll
    // stops whole-stage-compiling near K ~ 100; below that ceiling the
    // two must agree BIT-FOR-BIT (qe9/qe10's oracle hash-match rides
    // on this arithmetic), including the (distance, cid) tie order
    functions.VectorFunctions.registerNative(spark)
    forAll(Gen.chooseNum(1, 20), Gen.chooseNum(2, 12), Gen.chooseNum(0L, 500L)) {
      (k, dim, seed) =>
        val rnd = new scala.util.Random(seed)
        val cents = (0 until k).map(c =>
          (c * 3, Seq.fill(dim)(rnd.nextDouble() * 4 - 2))).toArray
        val df = Seq(Tuple1(Seq.fill(dim)(rnd.nextDouble() * 4 - 2))).toDF("vec")
        val row = df.select(
          queries.VectorQueries.centroidCandsLit(cents).as("lit"),
          functions.VectorFunctions.centroidDists(col("vec"), cents).as("nat"))
          .selectExpr("transform(lit, s -> struct(s.d, s.cid)) AS l",
            "transform(nat, s -> struct(s.d, s.cid)) AS n")
          .collect()(0)
        row.getSeq[org.apache.spark.sql.Row](0) == row.getSeq[org.apache.spark.sql.Row](1)
    }
  }

  property("gate candidate set invariant to input partitioning") = {
    // the qe15c/qe22c/qe25c recall floors assume
    // the IVF gate fit is reproducible — the seed pick is an
    // orderBy(vec_id).limit(k) (partition-independent by sort), and
    // every refit component is a 6dp-rounded avg, so FP summation
    // order across partitions cannot flip a cell assignment. This
    // pins exactly that: same corpus, different physical layout, same
    // directed candidate set with identical scores.
    forAll(Gen.chooseNum(20, 50), Gen.chooseNum(0L, 400L)) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      val rows = (0 until n).map(i =>
        (i.toLong, s"l${i % 4}", Seq.fill(8)(rnd.nextDouble() * 2 - 1)))
      def cands(parts: Int) = {
        val e = rows.toDF("vec_id", "label", "vec")
          .repartition(parts)
          .withColumn("nrm", functions.VectorFunctions.norm(col("vec")))
        queries.GateRule.candsWith(
            e, queries.VectorQueries.gateFitCents(e, 8, n.toLong), 0.5, n.toLong)
          .select("ida", "idb", "cos").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      }
      val one = cands(1)
      one.nonEmpty && one == cands(7)
    }
  }

  property("mass-budgeted gate: full budget = probe-all, unit budget = home cell, budgets nest") = {
    // the mass-budgeted probe (GateRule) cuts each vector's ranked-cell
    // list at a cumulative home-mass budget. Its contract, pinned here
    // against references built from the SAME fit: budget = n
    // degenerates to probing every cell (every ordered pair of distinct
    // ids), budget = 1 degenerates to the home cell only (the nearest
    // cell is always taken and always holds the vector itself, so the
    // pairs that share an argmin home cell), and candidate sets NEST as
    // the budget grows (cum_before is budget-independent).
    forAll(Gen.chooseNum(20, 50), Gen.chooseNum(0L, 400L)) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      val rows = (0 until n).map(i =>
        (i.toLong, s"l${i % 4}", Seq.fill(8)(rnd.nextDouble() * 2 - 1)))
      val e = rows.toDF("vec_id", "label", "vec")
        .withColumn("nrm", functions.VectorFunctions.norm(col("vec")))
      val k = 8
      val cents = queries.VectorQueries.gateFitCents(e, k, n.toLong)
      def collectSet(df: org.apache.spark.sql.DataFrame) =
        df.select("ida", "idb", "cos").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      def mass(frac: Double) = collectSet(
        queries.GateRule.candsWith(e, cents, frac, n.toLong))
      // (ida, idb, 6dp cosine) of the ordered pairs of distinct ids that
      // `keep` admits, cid being each side's argmin home cell
      def pairs(keep: org.apache.spark.sql.Column) = {
        val homed = queries.GateRule.homes(e,
            functions.VectorFunctions.centroidDists(col("vec"), cents))
          .join(e, col("idb") === col("vec_id"))
        def side(x: String) = homed.select(col("vec_id").as(s"id$x"),
          col("vec").as(s"v$x"), col("nrm").as(s"n$x"), col("cid").as(s"c$x"))
        collectSet(side("a").crossJoin(side("b"))
          .filter(col("ida") =!= col("idb") && keep)
          .withColumn("cos", Rounding.dround(functions.VectorFunctions.cosine(
            col("va"), col("vb"), col("na"), col("nb")), 6)))
      }
      val full = mass(1.0)
      val unit = mass(1e-12)
      val mid = mass(0.5)
      full.nonEmpty && full == pairs(lit(true)) && unit == pairs(col("ca") === col("cb")) &&
        unit.subsetOf(mid) && mid.subsetOf(full)
    }
  }

  property("chunker covers every token exactly with the stride layout, any doc length") = {
    forAll(Gen.listOfN(8, Gen.chooseNum(1, 90))) { lens =>
      val docs = lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, (1 to n).map(j => s"w$j").mkString(" "))
      }.toDF("doc_id", "text")
      val chunks = queries.TextQueries.chunkDocs(docs).collect()
      lens.zipWithIndex.forall { case (n, i) =>
        val cs = chunks.filter(_.getAs[Long]("doc_id") == i)
          .sortBy(_.getAs[Int]("chunk_idx"))
        cs.length == (1 + (math.max(n - 32, 0) + 23) / 24) &&
          cs.zipWithIndex.forall { case (c, k) => c.getAs[Int]("chunk_idx") == k } &&
          cs.forall(c => c.getAs[Long]("start_token") == c.getAs[Int]("chunk_idx") * 24L) &&
          // full coverage: last chunk ends at n, non-final chunks are full
          cs.last.getAs[Long]("start_token") + cs.last.getAs[Int]("chunk_tokens") == n &&
          cs.init.forall(_.getAs[Int]("chunk_tokens") == 32)
      }
    }
  }

  property("native PQ encoder matches a driver-side argmin replica") = {
    functions.VectorFunctions.registerNative(spark)
    val (m, ks) = (4, 3)
    forAll(Gen.listOfN(16, finiteD), Gen.listOfN(m * ks * 4, finiteD)) { (v, cbFlat) =>
      val df = Seq(Tuple1(v)).toDF("v")
      val got = df.select(functions.VectorFunctions.pqEncode(
        col("v"), cbFlat.toArray, m, ks).as("codes"))
        .collect()(0).getSeq[Int](0)
      val sd = v.length / m
      val want = (0 until m).map { sub =>
        (0 until ks).minBy { c =>
          val base = (sub * ks + c) * sd
          // strict < with ascending c = minBy's first-win tie rule
          (0 until sd).map { j =>
            val d = v(sub * sd + j) - cbFlat(base + j); d * d
          }.sum
        }
      }
      got == want
    }
  }

  property("native dot product equals interpreted HOF dot product bit-for-bit") = {
    functions.VectorFunctions.registerNative(spark)
    forAll(Gen.listOfN(16, finiteD), Gen.listOfN(16, finiteD)) { (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val r = df.select(
        functions.VectorFunctions.dot(col("a"), col("b")).as("nat"),
        functions.VectorFunctions.dotHof(col("a"), col("b")).as("hof")).collect()(0)
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1))
    }
  }

  property("water-fill: exact budget, caps respected, max-min level on any sizes") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(1L, 500L)).map(_.take(12))) { ns =>
      ns.isEmpty || {
        val sizes = ns.zipWithIndex
          .map { case (n, i) => (f"s$i%02d", n) }.toDF("source", "n")
        val rows = queries.TextQueries.waterfillFrom(sizes).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        val budget = ns.sum / 2
        val sumsToBudget = rows.map(_._3).sum == budget
        val capped = rows.forall { case (_, n, a) => a >= 0 && a <= n }
        // max-min: any two unsaturated sources sit within 1 of each other
        val unsat = rows.filter { case (_, n, a) => a < n }.map(_._3)
        val level = unsat.isEmpty || (unsat.max - unsat.min <= 1)
        // a saturated source never holds more than the common level,
        // EXCEPT one saturated *by the remainder top-up*: when the
        // integer budget doesn't divide evenly the first (by name)
        // active sources each get +1, and that unit can push a source
        // to its cap one above the unsaturated minimum — e.g. sizes
        // [1,1], budget 1 → allocation {1,0}, which IS max-min fair
        // because a whole unit can't be split (the
        // original `a <= unsat.min` clause was wrong on this edge)
        val fair = unsat.isEmpty ||
          rows.filter { case (_, n, a) => a == n }
            .forall { case (_, _, a) => a <= unsat.min + 1 }
        sumsToBudget && capped && level && fair
      }
    }

  property("water-fill remainder edge: sizes [1,1] allocates {1,0} (regression)") =
    Prop {
      // the exact case that falsified the original property: two
      // 1-doc sources, budget = 2/2 = 1. Max-min fairness with
      // integer units gives the whole unit to the first source by
      // name — {s00→1, s01→0} — and the sum must hit the budget.
      val sizes = Seq(("s00", 1L), ("s01", 1L)).toDF("source", "n")
      val got = queries.TextQueries.waterfillFrom(sizes).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      got == Map("s00" -> 1L, "s01" -> 0L)
    }

  property("BPE string-replace merge == simultaneous leftmost model merge") = {
    // qd50/qd51's merge is a plain string replacement on words whose
    // tokens each carry their OWN separators (SEP+u+SEP+SEP+v+SEP →
    // SEP+uv+SEP); this pins
    // that trick — through the SPARK replace expression, not just JVM
    // String.replace — against a transparent recursive model of BPE's
    // simultaneous left-to-right non-overlapping merge, including the
    // overlap ("aaa" with merge (a,a) → [aa, a]) and back-to-back
    // ("abab" → [ab, ab]) cases — the latter falsified the original
    // single-boundary-separator encoding, where the replace consumed
    // the shared separator and missed every second occurrence.
    val Sep = "\u001f"
    def model(toks: List[String], u: String, v: String): List[String] = toks match {
      case a :: b :: rest if a == u && b == v => (u + v) :: model(rest, u, v)
      case a :: rest => a :: model(rest, u, v)
      case Nil => Nil
    }
    val tok: Gen[String] = Gen.choose(1, 2).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val word: Gen[List[String]] = Gen.choose(1, 8).flatMap(Gen.listOfN(_, tok))
    val cse: Gen[(List[String], String, String)] =
      for { w <- word; u <- tok; v <- tok } yield (w, u, v)
    forAll(Gen.listOfN(60, cse)) { cases =>
      cases.isEmpty || {
        val df = cases.zipWithIndex
          .map { case ((w, u, v), i) =>
            (i, w.map(t => Sep + t + Sep).mkString,
              Sep + u + Sep + Sep + v + Sep, Sep + u + v + Sep)
          }
          .toDF("i", "ws", "pat", "rep")
        val got = df
          .select(col("i"),
            filter(split(replace(col("ws"), col("pat"), col("rep")), Sep),
              t => t =!= "").as("toks"))
          .collect().map(r => r.getInt(0) -> r.getSeq[String](1).toList).toMap
        cases.zipWithIndex.forall { case ((w, u, v), i) =>
          got(i) == model(w, u, v)
        }
      }
    }
  }
}
