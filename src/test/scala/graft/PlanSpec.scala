package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

/** Physical-plan shape assertions for the scale-critical queries — the
  * ".explain and iterate until it's the plan you'd want" loop, frozen
  * as tests so a regression in join strategy, pushdown or codegen is a
  * test failure rather than a silent 100×-scale surprise.
  */
class PlanSpec extends AnyFunSuite {
  import SparkSpecBase.{spark, sf}

  /** Final (post-AQE) physical plan: materialize THROUGH the same
    * QueryExecution (collect, not a write — a write wraps a fresh
    * QueryExecution and the original plan would stay isFinalPlan=false
    * with no codegen stages), then render.
    */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    // AQE rendering appends an "== Initial Plan ==" section — slice it
    // off so node counts reflect the FINAL plan only
    val full = df.queryExecution.executedPlan.toString
    val cut = full.indexOf("== Initial Plan ==")
    if (cut >= 0) full.substring(0, cut) else full
  }

  test("q02 star join broadcasts every dimension (no shuffle join of dims)") {
    val p = finalPlan(queries.CoreQueries.q02(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join in star join")
  }

  test("CostModel dim join is a pinned function of ANALYZE stats: broadcast under budget, shuffle over it") {
    // the q56→CBO hook: SAME frames, SAME measured
    // stats — only the budget differs, so the plan flip below is driven
    // entirely by the statistics comparison, never by Spark's
    // file-size heuristic (planted in-memory frames have no files)
    import org.apache.spark.sql.functions.col
    val s2 = spark
    import s2.implicits._
    val fact = (0 until 1000).map(i => (i.toLong, i % 50)).toDF("k", "v")
    val dim = (0 until 50).map(i => (i.toLong, s"dim_name_$i")).toDF("k2", "name")
    val st = graft.operators.CostModel.analyze(dim)
    assert(st.rows == 50 && st.bytes > 0, s"ANALYZE must measure the dim: $st")
    val under = finalPlan(graft.operators.CostModel.dimJoin(
      fact, dim, col("k") === col("k2"), st))
    assert(under.contains("BroadcastHashJoin"),
      "a dim under the broadcast budget must broadcast")
    val over = finalPlan(graft.operators.CostModel.dimJoin(
      fact, dim, col("k") === col("k2"), st, budgetBytes = st.bytes - 1))
    assert(over.contains("SortMergeJoin") || over.contains("ShuffledHashJoin"),
      s"a dim over the budget must shuffle-join, plan was:\n$over")
    assert(!over.contains("BroadcastHashJoin"),
      "over-budget dim must not be broadcast")
  }

  test("CostModel prices array columns: an embedding-carrying dim must NOT broadcast") {
    // the first ANALYZE measured only strings and
    // scored arrays at ZERO bytes — this dim (1k rows × 256 doubles ≈
    // 2 MB decompressed) read as ~40 KB and sailed under any budget.
    // Pin the fix end-to-end: the estimate must price the array payload
    // and dimJoin must take the merge arm under a 1 MB budget.
    import org.apache.spark.sql.functions.col
    val s2 = spark
    import s2.implicits._
    val fact = (0 until 2000).map(i => (i.toLong, i % 1000)).toDF("k", "v")
    val dim = (0 until 1000)
      .map(i => (i.toLong, Seq.tabulate(256)(d => (i * 256 + d).toDouble)))
      .toDF("k2", "embedding")
    val st = graft.operators.CostModel.analyze(dim)
    // true payload: 1000 × 256 × 8 = 2,048,000 bytes before overheads
    assert(st.bytes >= 2048000L,
      s"ANALYZE must price the array payload (2 MB of doubles), got $st")
    val p = finalPlan(graft.operators.CostModel.dimJoin(
      fact, dim, col("k") === col("k2"), st, budgetBytes = 1L << 20))
    assert(!p.contains("BroadcastHashJoin"),
      s"a 2 MB embedding dim must not broadcast under a 1 MB budget:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"expected the merge arm, plan was:\n$p")
  }

  test("CostModel ANALYZE refuses unpriceable column types instead of scoring zero") {
    // a type neither the fixed-width table nor varMeasure
    // prices (CalendarInterval here; UDTs are the production analog)
    // used to fall through both and contribute ZERO bytes — the silent
    // undersizing the class doc forbids. It must refuse loudly.
    val df = spark.range(3)
      .selectExpr("id", "make_interval(0, CAST(id AS INT)) AS iv")
    val err = intercept[IllegalArgumentException] {
      graft.operators.CostModel.analyze(df)
    }
    assert(err.getMessage.contains("cannot price") && err.getMessage.contains("iv"),
      s"expected the unpriceable-type refusal naming the column, got: $err")
  }

  test("qe4b generates candidates without any nested-loop join") {
    val p = finalPlan(queries.VectorQueries.qe4b(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "qe4b exists to kill the all-pairs BNLJ; its own plan must not contain one")
    assert(!p.contains("CartesianProduct"))
  }

  test("q01 scan prunes to the referenced columns and stays in codegen") {
    val p = finalPlan(queries.CoreQueries.q01(spark, sf))
    // pricing summary touches 7 lineitem columns; the scan must not read keys
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_partkey") && !p.contains("l_suppkey"),
      "scan reads columns the query never uses")
    // whole-stage codegen renders as "*(n)" stage markers in toString
    assert(p.contains("*("), "aggregation left whole-stage codegen")
  }

  test("q22 scans lineitem exactly once (single-consumer aggregation, r6 rewrite)") {
    // The rewrite exists because AQE silently killed the
    // ReusedExchange the old two-branch shape depended on (two lineitem
    // scans, 1.5x slower). Pin the invariant the rewrite bought:
    // EXACTLY one lineitem scan, no reuse escape hatch — a refactor
    // that regresses this should fail here, not in bench archaeology.
    val p = finalPlan(queries.KpiQueries.q22(spark, sf))
    val lineitemScans = "FileScan parquet[^\\n]*lineitem".r.findAllMatchIn(p).size
    assert(lineitemScans == 1,
      s"q22 must scan lineitem exactly once (scans=$lineitemScans)")
  }

  test("q29 broadcasts the supplier dimension") {
    val p = finalPlan(queries.KpiQueries.q29(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "supplier dim join must broadcast")
  }

  test("qd23 ratio table broadcasts: the token stream never shuffle-joins") {
    val p = finalPlan(queries.TextQueries.qd23(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "the B-row log-ratio table must broadcast onto the token stream")
    assert(!p.contains("SortMergeJoin"),
      "token stream must not shuffle for the ratio lookup")
  }

  test("qd22 edges come from an equi-join posting list, never a nested loop") {
    // the CC auto-dispatch consumes the edges before qd22's own final
    // plan, so the posting join is pinned through the edge frame
    val p = finalPlan(queries.TextQueries.qd22Edges(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "gram posting join degenerated to a non-equi join")
    assert(p.contains("greatest") && p.contains("least"),
      "PPJoin length-ratio bound missing from qd22's physical plan")
  }

  test("qd25 mixture plans as a union of map-side-filtered scans: no exchange") {
    val p = finalPlan(queries.TextQueries.qd25(spark, sf))
    assert(!p.contains("Exchange"),
      "the weighted-epoch mixture must stay shuffle-free (hash membership is map-side)")
    assert(p.contains("Union"), "expected the epochs to plan as a Union")
  }

  test("qd8 applies the length filter before the candidate aggregation") {
    val p = finalPlan(queries.TextQueries.qd8(spark, sf))
    assert(p.contains("greatest") && p.contains("least"),
      "PPJoin length-ratio bound missing from the physical plan")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("bucketed tables co-locate the join: no Exchange in the join plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bkt").toString
    output.Sinks.bucketed(Tables.orders(spark, sf), "bkt_orders",
      "o_orderkey", 4, s"$dir/orders")
    output.Sinks.bucketed(
      Tables.lineitem(spark, sf).withColumnRenamed("l_orderkey", "o_orderkey"),
      "bkt_lineitem", "o_orderkey", 4, s"$dir/lineitem")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_orders")
        .join(spark.table("bkt_lineitem"), Seq("o_orderkey"))
      val p = finalPlan(joined)
      assert(!p.contains("Exchange hashpartitioning"),
        "bucketed-by-key join must not shuffle either side")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
    }
  }

  test("q03 settlement balance shuffles on the join key once (no extra exchange)") {
    val p = finalPlan(queries.CoreQueries.q03(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("qd11 hash sampling is map-only: no Exchange, no shuffle") {
    val p = finalPlan(queries.TextQueries.qd11(spark, sf))
    assert(!p.contains("Exchange"),
      "deterministic hash sampling must be a pure projection + filter")
    assert(p.contains("*("), "sampling filter left whole-stage codegen")
  }

  test("qe4c stays free of nested-loop joins and its bucket expr is codegen'd") {
    val df = queries.VectorQueries.qe4c(spark, sf)
    val p = finalPlan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // At sf0.001 no pair survives t=0.8, and AQE's empty-relation
    // propagation rightly deletes the whole candidate subtree from the
    // FINAL plan — so assert the native bucket expression on the full
    // rendering (initial plan included): it must be the planned form,
    // never the 64 KB-breaking literal-array HOF chain.
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("graft_lsh_buckets"), "native bucket expr missing from plan")
  }

  test("qd13b prefilter is map-only: Bloom literal in-plan, zero Exchange, codegen'd") {
    // the operator's entire point at 100 TB: the corpus-side PREFILTER
    // must be a pure scan→project (the eval-side filter rides in as a
    // literal), never a shuffle of corpus grams like qd13's inverted
    // index — the cascade moved the exact verify behind this stage,
    // so the stage itself is what carries the map-only guarantee
    val df = queries.TextQueries.qd13bPrefilter(spark, sf)
    val p = finalPlan(df)
    assert(!p.contains("Exchange"), "broadcast-sketch probe must not shuffle the corpus")
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("graft_bloom_any"), "native Bloom probe missing from plan")
    assert(p.contains("*("), "probe projection left whole-stage codegen")
  }

  test("qd13b cascade verifies only Bloom survivors: probe filter feeds the gram join") {
    // the full cascade pays qd13's gram shuffle ONLY for the docs the
    // Bloom stage could not clear — the gram explode must sit above a
    // Filter carrying the native probe, so a plan that explodes the
    // whole corpus (prefilter dropped/reordered away) fails here
    // the old rendered-string check (`explode` printed after
    // `graft_bloom_any`) was satisfied by the EVAL-side explode, which
    // prints later regardless of gating — walk the tree instead and
    // require a Generate whose SUBTREE carries the Bloom Filter, i.e.
    // the corpus-side explode consumes only Bloom survivors
    import org.apache.spark.sql.execution.{FilterExec, GenerateExec, SparkPlan}
    val qe = queries.TextQueries.qd13b(spark, sf).queryExecution
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    // traverse across codegen/stage/reused wrappers: collect on the
    // unwrapped root still stops at InputAdapter boundaries' subqueries,
    // but Generate/Filter both live inside the same stage here
    val root = unwrap(qe.executedPlan)
    def bloomBelow(p: SparkPlan): Boolean = p.collect {
      case f: FilterExec if f.condition.toString.contains("graft_bloom_any") => f
    }.nonEmpty
    val gatedGenerates = root.collect {
      case g: GenerateExec if bloomBelow(g) => g
    }
    assert(root.toString.contains("graft_bloom_any"),
      "native Bloom prefilter missing from plan")
    assert(gatedGenerates.nonEmpty,
      "a gram explode (Generate) must sit ABOVE the graft_bloom_any Filter " +
        "in the plan tree — the cascade's corpus explode must consume only " +
        s"Bloom survivors; plan was:\n$root")
  }

  test("qe8 label join broadcasts on the driver union-find path (no shuffle join)") {
    // the small regime's whole point is that cluster labels come back
    // as a broadcast-sized frame — a SortMergeJoin here means the
    // dispatch or the explicit broadcast() regressed
    val p = finalPlan(queries.VectorQueries.qe8(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "labels must broadcast-join the vertices")
    assert(!p.contains("SortMergeJoin"), "unexpected shuffle join in the qe8 label join")
  }

  test("qd17 BM25 broadcasts the query-term and stats sides, never the postings") {
    // the posting list (corpus × terms) is the big side: the tiny
    // query-term frame and the 1-row stats frame must ride in as
    // broadcasts, and nothing may cartesian-join the corpus
    val p = finalPlan(queries.TextQueries.qd17(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "query terms must broadcast into the posting join")
    assert(!p.contains("CartesianProduct"), "corpus must never cartesian-join")
  }

  test("qd17b probe reads the persisted postings — documents are scanned only for the query slice") {
    // the offline artifact exists once qd17b has run; the PROBE plan
    // must contain the postings parquet scan and exactly one documents
    // scan (tokenizing the 1% query slice) — a second documents scan
    // would mean the probe is silently re-building tf/df at query time
    val p = finalPlan(queries.TextQueries.qd17b(spark, sf))
    assert(p.contains("postings"), "probe must scan the persisted posting index")
    val docScans = "documents\\.parquet".r.findAllIn(p).length
    assert(docScans == 1, s"probe must scan documents once (queries), saw $docScans")
    // the postings are partitioned by term-
    // hash bucket and the probe's IN filter must reach the scan as a
    // PARTITION filter — pruning cold buckets' file groups, the
    // standard inverted-index layout — not as a post-scan row filter
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined,
      s"probe must prune posting partitions by query-vocab bucket: $p")
  }

  test("q10 top-k plans as TakeOrderedAndProject, not a global window") {
    val df = queries.CoreQueries.q10(spark, sf)
    df.collect()
    // the limit's TakeOrderedAndProject may live in the initial plan
    // rendering once AQE re-plans around it — assert the full string
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("TakeOrderedAndProject"),
      "global sort+limit must plan as per-partition top-k heaps")
  }

  test("pareto two-phase plan has no single-partition exchange") {
    import org.apache.spark.sql.functions.col
    SparkSpecBase.withParetoTwoPhase(true) {
      val abc = operators.Pareto.abc(
        Tables.customer(spark, sf).select("c_custkey", "c_acctbal"),
        col("c_custkey"), col("c_acctbal"))
      val p = finalPlan(abc)
      assert(!p.contains("Exchange SinglePartition"),
        "two-phase pareto must not funnel the frame through one partition")
      val ranked = operators.Pareto.rankBy(
        Tables.customer(spark, sf).select("c_custkey", "c_acctbal"),
        Seq(col("c_acctbal").desc, col("c_custkey").asc), "rnk")
      val p2 = finalPlan(ranked)
      assert(!p2.contains("Exchange SinglePartition"),
        "two-phase rank must not funnel the frame through one partition")
    }
  }

  test("pareto auto-dispatch: flips on a large size estimate, stays off at report size") {
    import org.apache.spark.sql.functions.col
    // spark.range carries an exact Catalyst size estimate (8 bytes/row):
    // 100M rows ≈ 800 MB > the 256 MB default threshold; 1k rows ≪ it.
    // No job runs — the dispatch reads plan stats only.
    val big = spark.range(100L * 1000 * 1000).toDF("k")
    val small = spark.range(1000).toDF("k")
    assert(operators.Pareto.autoTwoPhase(big),
      "auto-dispatch must flip to two-phase above the size threshold")
    assert(!operators.Pareto.autoTwoPhase(small),
      "report-sized frames must stay on the oracle-exact global window")
    // a malformed threshold fails loudly at the misconfiguration, and
    // names the conf key rather than surfacing a bare NumberFormatException
    SparkSpecBase.withConf(GraftConf.paretoTwoPhaseBytesKey, "256m") {
      val e = intercept[IllegalArgumentException] {
        operators.Pareto.rankBy(small, Seq(col("k")), "rnk")
      }
      assert(e.getMessage.contains(GraftConf.paretoTwoPhaseBytesKey))
    }
    // a frame already carrying an internal working column is rejected
    // loudly instead of silently corrupting ranks
    val clash = intercept[IllegalArgumentException] {
      operators.Pareto.rankBy(small.withColumn("_pid", col("k")),
        Seq(col("k")), "rnk")
    }
    assert(clash.getMessage.contains("_pid"))
  }

  test("qe9 assignment is map-only: no join for the argmin, K-row broadcast for sizes") {
    val p = finalPlan(queries.VectorQueries.qe9(spark, sf))
    // the centroid argmin is a scalar array_min expression, not a join:
    // the ONLY join in the plan is the K-row cluster-size broadcast
    assert(!p.contains("SortMergeJoin"), "corpus must never shuffle-join for k-means")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "assignment must be an expression, not a centroid cross join")
    assert(p.contains("BroadcastHashJoin"), "cluster sizes should broadcast back")
  }

  test("qe10 scores pairs only within clusters: cid equi-join, no all-pairs") {
    val p = finalPlan(queries.VectorQueries.qe10(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "semantic dedup exists to avoid the all-pairs non-equi join; " +
        "its candidate join must stay an equi-join on the cluster id")
  }

  test("qe15c mass-budgeted gate: map-only running-mass cut, no theta join, no Window") {
    // an earlier twin used an n·K window cumsum; the build now cuts
    // each vector's ranked cell list by a running-sum
    // `aggregate` over its own sorted candidate array with the K-row
    // mass table inlined as a literal — so the build plan must carry
    // NO Window operator and no Exchange between probe assignment and
    // the candidate equi-join (the only joins left are the cell-id
    // equi-join and the two id-side lookups).
    val build = finalPlan(queries.GateRule.cands(spark, sf))
    assert(!build.contains("BroadcastNestedLoopJoin") &&
      !build.contains("CartesianProduct"),
      "mass-budget build must stay equi-joins on the cell id")
    assert(!build.contains("Window"),
      "the cut is map-only — a Window in the build means the n·K cumsum shuffle is back")
    for (q <- Seq(queries.VectorQueries.knnPairsAt(spark, sf),
                  queries.VectorQueries.qe22c(spark, sf),
                  queries.VectorQueries.qe25c(spark, sf)))
      assert(!finalPlan(q).contains("CartesianProduct"),
        "mass-gated twin tails must stay free of theta joins")
  }

  test("no undispatched unpartitioned window on the parity path (threshold 0)") {
    // every global-order operator on the parity
    // path (rank, Pareto cumsum, dense-rank band groups) must flow
    // through the two-phase dispatch. Forcing the threshold to 0 makes
    // every dispatch flip to the range-partitioned shape — any
    // remaining `Exchange SinglePartition` means a global window
    // bypassed the dispatch.
    SparkSpecBase.withParetoTwoPhase(true) {
      for ((name, q) <- Seq(
          "q07" -> queries.CoreQueries.q07(spark, sf),
          "q08" -> queries.CoreQueries.q08(spark, sf),
          "q12" -> queries.CoreQueries.q12(spark, sf),
          "q13" -> queries.CoreQueries.q13(spark, sf))) {
        val p = finalPlan(q)
        assert(!p.contains("Exchange SinglePartition"),
          s"$name still funnels through a single-partition exchange at threshold 0")
      }
    }
  }

  test("qd20b folds HLL sketches map-side: one exchange, no Expand") {
    // the exact twin (qd20) must pay a two-distinct Expand + dedup
    // shuffle; the whole point of the sketch is that the approx path
    // ships fixed-size partials through a single hash exchange
    val p = finalPlan(queries.TextQueries.qd20b(spark, sf))
    assert(!p.contains("Expand"),
      "HLL NDV must not plan a count-distinct Expand")
    val exchanges = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(exchanges == 1, s"sketch agg needs exactly one shuffle (got $exchanges)")
    assert(p.contains("partial_approx_count_distinct") ||
      p.contains("approx_count_distinct"),
      "the aggregation must be the HLL sketch, not exact distinct")
  }

  test("qd18 builds its inverted index from one documents scan, no pair join") {
    val p = finalPlan(queries.TextQueries.qd18(spark, sf))
    val docScans = "FileScan parquet[^\\n]*documents".r.findAllMatchIn(p).size
    assert(docScans == 1, s"winnowing must read documents once (scans=$docScans)")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"),
      "duplicate spans come from the fingerprint inverted index, not a doc-pair join")
  }

  test("qd19 domain cap shuffles once, on the domain key") {
    val p = finalPlan(queries.TextQueries.qd19(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(exchanges == 1, s"per-domain rank needs exactly one shuffle (got $exchanges)")
    assert(p.contains("hashpartitioning(source"), "the one shuffle must key on source")
  }

  test("qd6b probe reads only the signature index, never the documents table") {
    // ensure the index exists, then check the probe's scans
    queries.TextQueries.Minhash.ensure(spark, sf)
    val p = finalPlan(queries.TextQueries.qd6b(spark, sf))
    assert(!p.contains("documents.parquet"),
      "index probe must not re-read or re-shingle the corpus")
    assert(p.contains("signatures"), "probe should scan the persisted signatures")
  }

  test("qd26 chunking is map-only: one scan, explode, no Exchange") {
    val p = finalPlan(queries.TextQueries.qd26(spark, sf))
    assert(!p.contains("Exchange"),
      "a chunker must be embarrassingly parallel — no shuffle, no state")
    val docScans = "FileScan parquet[^\\n]*documents".r.findAllMatchIn(p).size
    assert(docScans == 1, s"expected one documents scan (got $docScans)")
  }

  test("qd28 temperature mixture joins the fraction table by broadcast only") {
    val p = finalPlan(queries.TextQueries.qd28(spark, sf))
    assert(!p.contains("SortMergeJoin"),
      "the per-source fraction table is dimension-tiny; the corpus must not shuffle into a join")
    assert(p.contains("BroadcastHashJoin"), "membership join should broadcast the fractions")
  }

  test("qe13 hard-negative mining broadcasts the anchor slice") {
    // label <> anchor_label is a non-equi condition: the correct shape
    // is a BNLJ whose BUILD side is the ~1% anchor slice, never a
    // cartesian of corpus × corpus
    val p = finalPlan(queries.VectorQueries.qe13(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("qe14 PQ scoring scan joins codes against broadcast LUTs, no shuffle join") {
    val p = finalPlan(queries.VectorQueries.qe14(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "ADC scoring must stream the codes scan against broadcast lookup tables")
  }

  test("qe20 IVF-PQ probe: merged codes scan gated by broadcast probes, no shuffle join") {
    val p = finalPlan(queries.VectorQueries.qe20(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "the IVF gate and LUT attach must both be broadcast joins over one codes scan")
  }

  test("q30 funnel: every stage joins and aggregates on user_id, no cartesian") {
    val p = finalPlan(queries.EventQueries.q30(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "funnel stages must stay equi-joins on the user key")
  }

  test("qd34 containment pairs come from the gram equi-join, never doc x doc text") {
    val p = finalPlan(queries.TextQueries.qd34(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "containment candidates must be inverted-index postings joins")
  }

  test("qd29 gopher filter is map-only: one scan, every rule a row expression") {
    val p = finalPlan(queries.TextQueries.qd29(spark, sf))
    assert(!p.contains("Exchange"),
      "a per-document rule gate must not shuffle anything")
    val docScans = "FileScan parquet[^\\n]*documents".r.findAllMatchIn(p).size
    assert(docScans == 1, s"expected one documents scan (got $docScans)")
  }

  test("qd30 source overlap pairs come from the gram equi-join, never source x source text") {
    val p = finalPlan(queries.TextQueries.qd30(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the overlap matrix must candidate through the gram inverted index")
  }

  test("q38 reads the materialized basket membership — no parquet scan in the final plan") {
    // `op` (distinct orderkey/partkey) is Checkpoints.cut once and
    // feeds all three consumers; before the cut the final plan re-ran
    // the lineitem scan+distinct up to 5 times (plans/r17/
    // q38_before.txt). A parquet scan reappearing here means the
    // materialize-once was lost and every consumer pays a corpus pass.
    val p = finalPlan(queries.CoreQueries.q38(spark, sf))
    assert(!p.contains("Scan parquet"),
      "q38's consumers must read the one cut `op`, not re-scan lineitem")
  }

  test("qd22 edge plan starts at the materialized posting list — no re-tokenize per join side") {
    // `inv` (doc_id, ng, gram) is cut once; both self-join sides
    // read the same LogicalRDD instead of re-running scan+tokenize+
    // gram-ify+explode (2 documents scans in the earlier edge plan)
    val p = finalPlan(queries.TextQueries.qd22Edges(spark, sf))
    assert(!p.contains("Scan parquet"),
      "qd22's gram self-join must read the one cut posting list")
  }

  test("q38 basket pairs come from the order-key equi-join; supports broadcast") {
    val p = finalPlan(queries.CoreQueries.q38(spark, sf))
    // the only sanctioned non-equi element is the scalar n_orders cross
    // join (IdentityBroadcastMode of a 1-row aggregate) — pair
    // generation itself must join on ok, never part x part
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("hashpartitioning(ok") || p.contains("[ok#"),
      "basket self-join must key on the order key")
    assert(p.contains("BroadcastHashJoin"),
      "vocabulary-sized item supports must broadcast into the pair aggregate")
  }

  test("qd36 fuzzy-dedup candidates come from the blocking-key equi-joins") {
    val p = finalPlan(queries.TextQueries.qd36(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "blocked linkage must never fall back to doc x doc")
  }

  test("qd37 TF-IDF pushes the top-5 below the rank window and broadcasts df") {
    val p = finalPlan(queries.TextQueries.qd37(spark, sf))
    assert(p.contains("WindowGroupLimit"),
      "rank<=5 must push into WindowGroupLimit (partial top-k before the exchange)")
    assert(p.contains("BroadcastHashJoin"),
      "the vocabulary-sized df table must broadcast")
    assert(!p.contains("SortMergeJoin"), "no shuffle join on the corpus side")
  }

  test("q40 EWMA baseline joins co-partitioned aggregates, offsets broadcast") {
    val p = finalPlan(queries.EventQueries.q40(spark, sf))
    // the 24-row offsets frame rides a broadcast; the hourly/baseline
    // join is an equi-join on (event_type, hr) — nothing quadratic
    assert(!p.contains("CartesianProduct"))
    val bnlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(p).size
    assert(bnlj <= 1, s"only the 24-row offset fan-out may nest (got $bnlj)")
  }

  test("qd42 BPE pairs: map-only extraction, one shuffle on the pair key") {
    val p = finalPlan(queries.TextQueries.qd42(spark, sf))
    val docScans = "FileScan parquet[^\\n]*documents".r.findAllMatchIn(p).size
    assert(docScans == 1, s"expected one documents scan (got $docScans)")
    assert(!p.contains("Join"), "pair counting needs no join at all")
  }

  test("qe27 embedding health aggregates in one pass: single scan, no join") {
    val p = finalPlan(queries.VectorQueries.qe27(spark, sf))
    val scans = "FileScan parquet[^\\n]*embeddings".r.findAllMatchIn(p).size
    assert(scans == 1, s"expected one embeddings scan (got $scans)")
    assert(!p.contains("Join"), "per-label moments are one partial-agged aggregate")
  }

  test("qd40 report card never shuffles the corpus for its scalar joins") {
    val p = finalPlan(queries.TextQueries.qd40(spark, sf))
    // the doc-level and vocabulary aggregates meet in a 1-row x 1-row
    // cross join — broadcast, never a shuffle join
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "scalar aggregates must combine via broadcast")
  }

  test("q44 triangle wedges stay equi-joined on vertex keys, never cartesian") {
    val p = finalPlan(queries.CoreQueries.q44(spark, sf))
    assert(!p.contains("CartesianProduct"),
      "wedge generation and closure must join on vertex keys")
  }

  test("q47 cube plans one Expand over one aggregation, no join at all") {
    val p = finalPlan(queries.CoreQueries.q47(spark, sf))
    assert(p.contains("Expand"), "CUBE must plan via Expand, not a union of scans")
    val scans = "FileScan parquet[^\\n]*lineitem".r.findAllMatchIn(p).size
    assert(scans == 1, s"expected one lineitem scan (got $scans)")
    assert(!p.contains("Join"))
  }

  test("q48 SCD2 joins stay keyed and outer — Catalyst may split the full-outer") {
    // the presence-filtered branches let Catalyst rewrite the single
    // full-outer into a LeftOuter + a RightOuter (outer-join
    // elimination) — same key-partitioned shape, one join per era row
    val p = finalPlan(queries.CoreQueries.q48(spark, sf))
    val outer = "FullOuter|LeftOuter|RightOuter|LeftAnti".r.findAllMatchIn(p).size
    assert(outer >= 1 && outer <= 2,
      s"expected 1-2 keyed outer joins (got $outer)")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q50 PIT lookup rides an equi-join on the key, range as residual") {
    val p = finalPlan(queries.CoreQueries.q50(spark, sf))
    // the interval predicate must NOT become an interval cross-product
    assert(!p.contains("CartesianProduct"))
    val outer = "BroadcastHashJoin \\[l_orderkey[^\\n]*LeftOuter".r.findAllMatchIn(p).size +
      "SortMergeJoin \\[l_orderkey[^\\n]*LeftOuter".r.findAllMatchIn(p).size
    assert(outer == 1, s"fact->dim PIT join must be keyed+LeftOuter:\n$p")
  }

  test("q51 gap fill: spine work is aggregate-sized, corpus agg map-combined") {
    val p = finalPlan(queries.EventQueries.q51(spark, sf))
    // the hourly aggregate partial-aggregates before its shuffle
    assert(p.contains("partial_count"), "hourly agg must map-side combine")
    // the only nested-loop is the intentional tiny spine x types cross
    val bnl = "BroadcastNestedLoopJoin".r.findAllMatchIn(p).size
    assert(bnl <= 1 && !p.contains("CartesianProduct"))
    // densifying join is keyed on (hour, type)
    assert("BroadcastHashJoin \\[hour_ts".r.findAllMatchIn(p).nonEmpty ||
      "SortMergeJoin \\[hour_ts".r.findAllMatchIn(p).nonEmpty)
  }

  test("q53 delta maintenance map-combines both aggregates, joins keyed only") {
    val p = finalPlan(queries.CoreQueries.q53(spark, sf))
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      "base and delta aggregates must map-side combine before their shuffles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert("Join \\[o_custkey|Join \\[o_orderkey".r.findAllMatchIn(p).nonEmpty,
      "delta classification and maintenance must ride key equi-joins")
  }

  test("q54 compaction windows all partition by the table partition") {
    val p = finalPlan(queries.CoreQueries.q54(spark, sf))
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("ship_month")),
      s"a window without the ship_month partition funnels the plan:\n$p")
    assert(p.contains("partial_count"), "file stats must map-side combine")
  }

  test("q55 layout ranks stay two-phase under the threshold-0 sweep") {
    // force auto-dispatch onto the two-phase path (the sf0.001 frame is
    // below the default size threshold) — the 100×-scale shape is what
    // the pin freezes
    SparkSpecBase.withParetoTwoPhase(true) {
      val p = finalPlan(queries.CoreQueries.q55(spark, sf))
      // two-phase rank = range-partitioned sort + a LOCAL row_number
      // window partitioned on _pid; the global-window fallback would
      // plan an UNpartitioned row_number over a single-partition sort
      // of the full fact table. (The file-count-sized final aggregates
      // legitimately go through SinglePartition exchanges.)
      // (the range-partitioning exchange itself is behind the
      // lineage-cutting localCheckpoint and does not print here)
      val ranks = "row_number\\(\\) windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
      assert(ranks.nonEmpty && ranks.forall(_.contains("_pid")),
        s"every layout rank must be a _pid-partitioned local window:\n$ranks")
    }
  }

  test("qd48 shuffles gram-cardinality data exactly once, never joins it back") {
    val p = finalPlan(queries.TextQueries.qd48(spark, sf))
    val gramEx = "Exchange hashpartitioning\\(gram".r.findAllMatchIn(p).size
    assert(gramEx == 1,
      s"the min-first-seen aggregate is the ONLY gram shuffle (got $gramEx)")
    assert(p.contains("partial_min"), "first-seen min must map-side combine")
    assert(!"Join \\[gram".r.findAllMatchIn(p).hasNext,
      "novelty joins on doc_id; a gram-keyed join re-touches the big side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("qd51 BPE encode touches the corpus map-only: one rollup shuffle, no join") {
    // (qd50's returned frame is a driver-built local relation — the
    // training rounds' shapes are exercised through this encode plan,
    // which embeds the same replace chain)
    val p = finalPlan(queries.TextQueries.qd51(spark, sf))
    assert(!p.contains("Join"), "encode is a map-side replace chain")
    assert(p.contains("partial_count"), "source rollup must map-side combine")
    val ex = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(ex == 1 && p.contains("hashpartitioning(source"),
      s"exactly one shuffle, keyed on source (got $ex)")
  }

  test("qm9 near-dup joins stay banded equi-joins over canonical hashes") {
    val p = finalPlan(
      multimodal.Multimodal.imagePhashNeardup(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the 4x16-bit band equi-join, never all-pairs")
    assert(p.contains("partial_min"),
      "canonical collapse (min media_id per hash) must map-side combine")
  }

  test("q56 stats avoid the multi-distinct Expand (the 4x-slower shape)") {
    val p = finalPlan(queries.CoreQueries.q56(spark, sf))
    assert(!p.contains("Expand"),
      "NDVs must go through the unpivot two-phase distinct, not one " +
        "agg with K count(distinct)s — Expand fans the scan out xK " +
        "with no map-side value collapse")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "the 6-row stats join must broadcast")
  }

  test("qe16 cluster sampling shuffles once, on the cluster key") {
    val p = finalPlan(queries.VectorQueries.qe16(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(exchanges == 1,
      s"per-cluster rank needs exactly one shuffle (got $exchanges)")
    assert(p.contains("hashpartitioning(cid"), "the one shuffle must key on cid")
  }

  test("unpartitioned windows appear only at allowlisted report-cardinality sites") {
    // a global (no-PARTITION-BY) window moves all
    // rows to ONE partition — the classic 100 TB killer if it ever
    // lands on a corpus-scale frame. Standing adjudications say every
    // declared instance sits on a report-cardinality frame (fixed
    // handfuls of buckets/checks/rounds) or behind Pareto.rankBy's
    // two-phase dispatch (which keeps the global window only below its
    // row threshold); this test pins that as a closed allowlist over
    // every declared query's OPTIMIZED plan, so a corpus-scale global
    // window can never land silently. Windows upstream of an eager
    // lineage cut are invisible here by construction — those sites are
    // all rankBy-dispatched (the cut frames are iterative graph/text
    // states, not window outputs).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val found = scala.collection.mutable.SortedSet[String]()
    for ((name, fn) <- SparkEntry.queries) {
      val hasGlobal = fn(spark, sf).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.nonEmpty
      if (hasGlobal) found += name
    }
    // each entry's cardinality bound is recorded in
    // gates/r18/global_window_allowlist.txt (committed receipt); the
    // Pareto-routed entries show the global-window arm HERE because the
    // sf0.001 Catalyst size estimate sits under the two-phase dispatch
    // threshold — at corpus scale the same call plans the distributed
    // prefix sum (Pareto.autoTwoPhase), which is the adjudication
    val allow = Set(
      "q06_aging", "q08_pareto_abc", "q10_topk", "q12_band_groups",
      "q13_dual_sort", "q27_overdue_split", "q34_rfm_segments",
      "q41_path_trigrams", "q42_skew_report", "q55_zorder_layout",
      "qd12_token_histogram", "qd21_heavy_hitters", "qd21b_cms_probe",
      "qd24_zipf_fit", "qd27_lm_perplexity", "qd33_pmi_collocations",
      "qd42_bpe_pairs", "qd44_weighted_sample", "qd45_waterfill_mixture",
      "qd47_vocab_growth")
    val rogue = found -- allow
    assert(rogue.isEmpty,
      s"unpartitioned Window in NON-allowlisted queries (a corpus-scale " +
        s"global window would be a 100 TB killer — adjudicate and " +
        s"allowlist with a cardinality bound, or fix): $rogue; full found set: $found")
    // the list must not rot: an allowlisted query that no longer has a
    // global window should leave the list (keeps the receipt honest)
    val stale = allow -- found
    assert(stale.isEmpty, s"allowlist entries with no global window anymore: $stale")
  }

  test("r18 blocked all-pairs kernel: one corpus scan, packed exchange on blk, tile flatMap") {
    // the exact-anchor kernel (qe15/qe22/qe25): the corpus is scanned
    // ONCE and packed into blocks via one exchange keyed on the
    // deterministic blk id; the n² dot products run inside the tile
    // MapPartitions, never as a theta self-join of two corpus scans
    for (distKey <- Seq(true, false)) {
      val df = queries.VectorQueries.blockedTopKCandsUncut(spark, sf, 5, distKey)
      val p = finalPlan(df)
      val scans = "Scan parquet".r.findAllMatchIn(p).size
      assert(scans == 1,
        s"kernel(distKey=$distKey) must scan embeddings exactly once (got $scans)")
      assert(p.contains("hashpartitioning(blk"),
        s"kernel(distKey=$distKey): packed exchange on blk missing")
      assert(p.contains("collect_list"),
        s"kernel(distKey=$distKey): block packing aggregate missing")
      assert(p.contains("MapPartitions"),
        s"kernel(distKey=$distKey): tile flatMap missing")
    }
  }
}
