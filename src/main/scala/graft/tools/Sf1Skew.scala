package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.PersistedIndex

/** True-distribution ~sf1 scale smoke: generate a 10× cut whose
  * JOIN/GROUP KEYS keep their sf0.1 identity — the same customer gets 10×
  * the orders, the same part 10× the lineitems, the same user 10× the
  * events — so cross-copy hot keys actually concentrate, which a
  * key-SHIFTED union of copies cannot exercise (its disjoint keyspaces
  * make 10 independent sf0.1 problems; a skew report or salted join never
  * sees a heavier key there — the earlier 10× smoke in BENCH_NOTES.md was
  * of that kind). Row-identity keys (orderkey, event_id, vec_id) fan out
  * `key·16 + copy` to stay unique; every value column keeps the sf0.1
  * marginal distribution verbatim, and copies > 0 of a vector are
  * REGENERATED (deterministic xxhash64-seeded uniform[-0.5,0.5), the
  * source family) rather than duplicated — a copied embedding would plant
  * 20k exact dups and turn kNN distance into a constant 0.
  *
  * What this is NOT: the driver's own sf1 (its generator is not
  * available). It is a volume-true, skew-true scale-up of the driver's
  * sf0.1 — the marginal distributions are the driver's by
  * construction, and per-key weights scale ×10 the way a real corpus
  * grows (more orders over the same catalog/customer base).
  *
  * Usage: `sbt "runMain graft.tools.Sf1Skew"` — builds under tmpdir
  * once, ensures every persisted index (`PersistedIndex.all`, as
  * `graft.Bench` does; a failed build prints a FAILED line), then times
  * the skew-sensitive suite queries (min-of-reps).
  * Results + the AQE/salting observation go to BENCH_NOTES.md.
  */
object Sf1Skew {

  private val Copies = 10
  private val SrcDir = "/root/testdata/sf0.1"
  private val OutDir = s"${sys.props("java.io.tmpdir")}/graft_sf1_skew"

  /** `Copies` rows per source row, `_c` ∈ [0, Copies). Repartitioned:
    * the sf0.1 source tables are single parquet files, so a bare
    * fan-out writes ONE file and every downstream non-shuffle stage of
    * the smoke (all-pairs generation, explodes, map-side scans) runs
    * single-task — a 20k-vector gate sweep burned an hour on one core
    * that way. 32 output files ≡ the local[32] task width.
    */
  private def fanOut(df: DataFrame): DataFrame =
    df.withColumn("_c", explode(lit((0 until Copies).toArray)))
      .repartition(32)

  /** Deterministic uniform[-0.5, 0.5) double from any key columns —
    * the embedding component family observed at sf0.1.
    */
  private def u(cols: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
    xxhash64(cols: _*).cast("double") / 1.8446744073709552e19

  /** Zipfian vocabulary for the regenerated text copies: rank r = ⌊V^u⌋
    * with u uniform[0,1) puts P(r) ≈ 1/(r·ln V) — Zipf's law with
    * exponent ~1, the empirical shape of real text — over a 50k-token
    * vocabulary. At the 50k-doc
    * corpus this yields ~60 df-saturated head terms (where the qd17
    * posting cap actually bites) and a ~50k-term cold tail, vs the
    * verbatim fan-out's 31 words with every term saturated.
    */
  private val ZipfVocab = 50000

  private def zipfTok(docId: org.apache.spark.sql.Column,
      pos: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("zt"), floor(exp((u(docId, pos, lit("zipf")) + 0.5) *
      math.log(ZipfVocab.toDouble))).cast("long").cast("string"))

  /** Documents carry their own generation marker: the text recipe can
    * change (zipfv2) without rebuilding the OTHER tables — embeddings
    * especially, whose byte identity keys the committed curve registry
    * (a rebuild under a different session width re-splits the source
    * and would orphan the committed skew curves for nothing).
    */
  private val DocsGen = "zipfv2"
  private def docsGenMarker = new java.io.File(s"$OutDir/_docs_gen_$DocsGen")

  private def writeDocuments(spark: SparkSession): Unit = {
    def src(t: String) = spark.read.parquet(s"$SrcDir/$t.parquet")
    // documents ×10: copies 0-4 keep the source text VERBATIM — every doc
    // stays a 5-way exact-dup cluster, preserving the duplication-heavy
    // regime the dedup family's 10× receipts measure — while copies 5-9
    // regenerate text from the seeded zipfian vocabulary above, so the
    // BM25 cap, stop-list, PMI and TF-IDF operators measure on a
    // realistically shaped df distribution (saturated head + long cold
    // tail) instead of the degenerate everything-saturated 31-word
    // fan-out. Token length keeps the source marginal (10-100); n_chars
    // tracks the new text.
    val len = lit(10L) + pmod(xxhash64(col("doc_id"), lit("len")), lit(91L))
    val newText = concat_ws(" ",
      transform(sequence(lit(1L), len), p => zipfTok(col("doc_id"), p)))
    fanOut(src("documents"))
      .withColumn("doc_id", col("doc_id") * 16 + col("_c"))
      .withColumn("text", when(col("_c") < 5, col("text")).otherwise(newText))
      .withColumn("n_chars",
        when(col("_c") < 5, col("n_chars"))
          .otherwise(length(col("text")).cast("long")))
      .drop("_c")
      .write.mode("overwrite").parquet(s"$OutDir/documents.parquet")
    docsGenMarker.createNewFile()
    println(s"[sf1] documents written ($DocsGen)")
  }

  /** Ensures every persisted index of `dir` before the timed queries, so
    * their walls time probes, not cold builds. Returns one line per
    * failed build for the receipts: a failure must show there, not only
    * as a slower query.
    */
  private[graft] def prebuild(spark: SparkSession, dir: String,
      indexes: Seq[PersistedIndex]): Seq[String] =
    graft.Bench.prebuildIndexes(spark, dir, indexes)
      .map(e => s"[sf1] $e FAILED: its queries time a cold build")

  /** Times each query min-of-`reps` through [[graft.Bench.timeQueries]]
    * and emits one receipt line per query as it finishes. A query that
    * throws reads `[sf1] <name> FAILED` (its error goes to stderr) and
    * the queries after it still run.
    *
    * Each line carries the same self-adjudication key as the Bench
    * artifacts: the machine 1-min load average at [start, end] of the
    * query's reps. The skew corpus's 80 g sessions showed 2-3×
    * back-to-back variance (the gated density twin read 80-129 s where
    * a controlled same-session A/B read 38.9 s); a receipt line whose
    * load reads hot names its own contamination. Read rule
    * (BENCH_NOTES): trust a line only when both samples sit ≲ 0.2 over
    * the session's own width.
    *
    * Each line also summarizes the post-AQE stage widths of its reps
    * (min/median/max completed-stage task counts): what AQE actually
    * RAN, coalesced widths included, not what the shuffle knob asked
    * for, so the receipts say when a grown corpus outruns the knob.
    */
  private[graft] def timeSuite(spark: SparkSession, qs: Seq[(String, () => Unit)],
      reps: Int)(emit: String => Unit): Unit = {
    val stageWidths = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stageWidths.add(sc.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try for ((name, thunk) <- qs) {
      val l0 = graft.Bench.loadAvg()
      stageWidths.clear()
      val (times, failed) = graft.Bench.timeQueries(Seq(name -> thunk), reps, "sf1")
      // the listener bus is async — give it a beat before summarizing
      Thread.sleep(300)
      val ws = {
        import scala.jdk.CollectionConverters._
        stageWidths.asScala.map(_.toInt).toSeq.sorted
      }
      val aqe =
        if (ws.isEmpty) "aqe n/a"
        else s"aqe stages ${ws.size} width ${ws.head}/${ws(ws.size / 2)}/${ws.last}"
      val took = if (failed.nonEmpty) "FAILED" else f"min-of-$reps ${times.head._2}%.2f s"
      emit(f"[sf1] $name%-24s $took load [$l0%.1f, ${graft.Bench.loadAvg()}%.1f] $aqe")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val spark = ToolSession.local()
    def src(t: String) = spark.read.parquet(s"$SrcDir/$t.parquet")

    // text-generation upgrade on an existing corpus: refresh ONLY the
    // documents table (see DocsGen)
    if (new java.io.File(s"$OutDir/embeddings.parquet").exists()
        && !docsGenMarker.exists())
      writeDocuments(spark)

    if (!new java.io.File(s"$OutDir/embeddings.parquet").exists()) {
      // orders ×10: same customers (o_custkey untouched → 10× orders per
      // customer), fresh orderkeys consistent with lineitem's fan-out
      fanOut(src("orders"))
        .withColumn("o_orderkey", col("o_orderkey") * 16 + col("_c"))
        .drop("_c")
        .write.mode("overwrite").parquet(s"$OutDir/orders.parquet")
      // lineitem ×10: same parts/suppliers (hot part 10× hotter), the
      // copy's rows land in the matching replicated order
      fanOut(src("lineitem"))
        .withColumn("l_orderkey", col("l_orderkey") * 16 + col("_c"))
        .drop("_c")
        .write.mode("overwrite").parquet(s"$OutDir/lineitem.parquet")
      // events ×10: same users (hot user 10× hotter), fresh event ids,
      // +copy seconds so timestamps don't degenerate into 10-way ties
      fanOut(src("events"))
        .withColumn("event_id", col("event_id") * 16 + col("_c"))
        .withColumn("ts", timestamp_seconds(unix_timestamp(col("ts")) + col("_c")))
        .drop("_c")
        .write.mode("overwrite").parquet(s"$OutDir/events.parquet")
      writeDocuments(spark)
      // embeddings ×10: copy 0 is the source vector, copies 1..9 are
      // fresh draws from the same uniform family (labels keep the
      // source's label so the 10-label marginal is unchanged)
      fanOut(src("embeddings"))
        .withColumn("vec_id", col("vec_id") * 16 + col("_c"))
        .withColumn("embedding",
          when(col("_c") === 0, col("embedding"))
            .otherwise(transform(sequence(lit(0), lit(63)),
              d => u(col("vec_id"), d).cast("float"))))
        .drop("_c")
        .write.mode("overwrite").parquet(s"$OutDir/embeddings.parquet")
      println(s"[sf1] built $OutDir")
    }

    // the text-family smoke. The documents fan-out KEEPS text verbatim
    // across all 10 copies, so this corpus is maximally duplication-heavy
    // — every doc is a 10-way exact-dup cluster and every gram's df is
    // 10× its sf0.1 value, which is precisely the boilerplate regime that
    // stresses qd34's uncapped gram inverted index (df d contributes d²
    // pairs) and qd36/qd39's within-block quadratics.
    // SPARK_GRAFT_SUITE=text selects it.
    val textQs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "qd34_containment" -> (graft.queries.TextQueries.qd34 _),
      "qd36_fuzzy_dedup" -> (graft.queries.TextQueries.qd36 _),
      "qd39_fuzzy_clusters" -> (graft.queries.TextQueries.qd39 _),
      "qd46_dedup_survivorship" -> (graft.queries.TextQueries.qd46 _),
      "qd13b_decontam_bloom" -> (graft.queries.TextQueries.qd13b _),
      // the >2 s text queries — BM25 (df-driven like qd34, but per-term
      // not per-pair), the dup-cluster join tail, and the LM perplexity
      // gram chain (the widest cold-vs-warm bench spread in the family)
      "qd17_bm25" -> (graft.queries.TextQueries.qd17 _),
      // the persisted-postings probe (the index is pre-built below)
      "qd17b_bm25_index" -> (graft.queries.TextQueries.qd17b _),
      "qd22_dup_clusters" -> (graft.queries.TextQueries.qd22 _),
      "qd27_lm_perplexity" -> (graft.queries.TextQueries.qd27 _),
      // the df-distribution-shaped operators on the corpus's realistic
      // vocabulary (zipfv2) — stop-list saturation, PMI bigram stats and
      // TF-IDF keyword extraction all measure on the 49k-term zipf df axis
      "qd31_stop_terms" -> (graft.queries.TextQueries.qd31 _),
      "qd33_pmi_collocations" -> (graft.queries.TextQueries.qd33 _),
      "qd37_tfidf_keywords" -> (graft.queries.TextQueries.qd37 _),
      // the BPE family — 8 serial merge rounds over the zipf word-type
      // table (vocab-sized, so the zipfv2 49k-term axis is exactly what
      // scales it), to price the per-round checkpoint cadence question
      "qd50_bpe_train" -> (graft.queries.TextQueries.qd50 _),
      "qd51_bpe_encode" -> (graft.queries.TextQueries.qd51 _))
    val skewQs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q38_basket_rules" -> (graft.queries.CoreQueries.q38 _),
      "q42_skew_report" -> (graft.queries.CoreQueries.q42 _),
      "q43_copurchase_pagerank" -> (graft.queries.CoreQueries.q43 _),
      "q44_triangle_count" -> (graft.queries.CoreQueries.q44 _),
      "q45_lpa_communities" -> (graft.queries.CoreQueries.q45 _),
      // the gated density twin: its scan is pinned at 0.35·n² directed
      // candidates on this corpus's mass-skewed fit
      "qe15c_massgated_density" -> (graft.queries.VectorQueries.qe15c _))
    val qs = sys.env.get("SPARK_GRAFT_SUITE") match {
      case Some("text") => textQs
      case Some("all") => skewQs ++ textQs
      case _ => skewQs
    }
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    val onlyQ = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // SPARK_GRAFT_SINK=count times count() instead of the noop write —
    // count lets Catalyst prune every unused column/subtree, so (noop −
    // count) separates "computing the full output rows" from the
    // aggregation tree's inherent work
    val countSink = sys.env.get("SPARK_GRAFT_SINK").contains("count")
    prebuild(spark, OutDir, PersistedIndex.all).foreach(println)
    timeSuite(spark, qs.filter { case (name, _) => onlyQ.forall(_.contains(name)) }
      .map { case (name, fn) => name -> (() => {
        val df = fn(spark, OutDir)
        if (countSink) df.count()
        else df.write.format("noop").mode("overwrite").save()
        ()
      }) }, reps)(println)
    spark.stop()
  }
}
