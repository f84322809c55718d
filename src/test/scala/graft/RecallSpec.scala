package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Measured recall of every approximate operator against its exact twin,
  * with hard floors: the tests FAIL if a parameter
  * change drops recall, and the measured values are written to
  * RECALL.json next to the CORRECTNESS artifacts.
  *
  * Measured at BOTH sf0.01 and sf0.1: LSH band/row
  * and IVF probe regimes are density-dependent — a fixed banding that
  * clears a sparse corpus can miss in a dense one — and the bench runs
  * at sf0.1, so the floors must hold where the bench measures.
  *
  * Fixture mass: sf0.01 has 59 embedding pairs with cosine ≥ 0.4 (the
  * random-tail regime — see VectorQueries.qe4b) and 25 planted document
  * near-dup pairs with Jaccard ≥ 0.5; sf0.1 scales both ~10×.
  */
class RecallSpec extends AnyFunSuite {
  import SparkSpecBase.spark

  private case class Sf(dir: String, label: String)
  private val sfs = Seq(
    Sf("/root/testdata/sf0.01", "sf0.01"),
    Sf("/root/testdata/sf0.1", "sf0.1"))

  // floors are per-sf: the regimes genuinely differ with density, and a
  // floor must track what the operator actually delivers there
  private val floors: Map[(String, String), Double] = Map(
    ("qe2_ann_lsh", "sf0.01") -> 0.70, ("qe2_ann_lsh", "sf0.1") -> 0.70,
    // the IVF quantizer moved to the deterministic seeded-Lloyd
    // fit (3 refits) — measured recall jumped 0.58/0.70 -> 0.88/0.92
    // (balanced lists put far more of the true top-5 inside a 4/16
    // probe), so the floors rise off the old ML-quantizer margin
    ("qe5_ann_ivf", "sf0.01") -> 0.70, ("qe5_ann_ivf", "sf0.1") -> 0.70,
    ("qe4b_embedding_dedup_lsh", "sf0.01") -> 0.90,
    ("qe4b_embedding_dedup_lsh", "sf0.1") -> 0.90,
    ("qd6_minhash_lsh", "sf0.01") -> 0.90, ("qd6_minhash_lsh", "sf0.1") -> 0.90,
    // 8 bands × 8 bits over the Hamming-6 radius is pigeonhole-
    // EXACT (≤7 flips cannot dirty all 8 bands) — like qd13b's Bloom,
    // 1.0 is structural, so any miss is a bug, not an unlucky corpus
    ("qd7_simhash", "sf0.01") -> 1.0, ("qd7_simhash", "sf0.1") -> 1.0,
    ("qe6_quantized_topk", "sf0.01") -> 0.80, ("qe6_quantized_topk", "sf0.1") -> 0.80,
    // rerank pool n/10 -> n/5 lifted measured recall to 0.68/0.82;
    // floors raised off the old one-unlucky-corpus margin
    ("qe7_truncated_rerank", "sf0.01") -> 0.55, ("qe7_truncated_rerank", "sf0.1") -> 0.65,
    // a Bloom filter cannot false-negative: 1.0 is a structural
    // guarantee, so any miss is a bug, not an unlucky corpus
    ("qd13b_bloom_decontam", "sf0.01") -> 1.0, ("qd13b_bloom_decontam", "sf0.1") -> 1.0,
    // persisted-index PROBE variants: equivalence
    // to the fused twins is spec-pinned elsewhere, but the artifact
    // must carry probe-path evidence of its own — same floors as the
    // fused operators they share machinery with
    ("qd6b_minhash_probe", "sf0.01") -> 0.90, ("qd6b_minhash_probe", "sf0.1") -> 0.90,
    ("qe5b_ann_ivf_probe", "sf0.01") -> 0.70, ("qe5b_ann_ivf_probe", "sf0.1") -> 0.70,
    // PQ-ADC 8×16 codebooks + exact rerank of the 50-deep ADC
    // shortlist. Unstructured random vectors are PQ's worst case
    // (measured 0.24/0.30 WITHOUT the rerank stage); the refine step
    // lifts it to 0.74/0.62 — floors sit under that with
    // one-unlucky-corpus margin
    ("qe14_pq_ann", "sf0.01") -> 0.40, ("qe14_pq_ann", "sf0.1") -> 0.40,
    ("qe14b_pq_probe", "sf0.01") -> 0.40, ("qe14b_pq_probe", "sf0.1") -> 0.40,
    // 1-bit sign quantization + Hamming shortlist 50 + exact
    // rerank. The operator itself is deterministic and oracle-checked;
    // this row measures how much of the exact top-5 the 50-deep
    // Hamming shortlist retains (random vectors again the worst case —
    // sign bits carry angle/π of the signal)
    ("qe19_binary_ann", "sf0.01") -> 0.40, ("qe19_binary_ann", "sf0.1") -> 0.40,
    // the Lloyd quantizer's balanced lists pool ~25% of the corpus
    // per 4/16 probe, so the gated path reranks a 2·PqShort ADC
    // shortlist (~100 float rows/query — scan-cut economics unchanged);
    // measured 0.54/0.56 -> 0.88/0.80. NB the gate no longer binds via
    // qe14b's shortlist (different depths), so the old ≤-qe14b note is
    // retired with the ML quantizer.
    ("qe20_ivf_pq", "sf0.01") -> 0.60, ("qe20_ivf_pq", "sf0.1") -> 0.60,
    // the mass-budgeted gate pins COST (⌈0.35·n⌉ scanned mass per
    // query) and lets recall float — measured 0.7448/0.7811 at
    // sf0.01/sf0.1 (gates/curves/); floors are measured minus the 0.10
    // one-unlucky-corpus margin, tightened by the sweep curve when one
    // applies (sweepFloor).
    ("qe15c_massgated_density", "sf0.01") -> 0.64, ("qe15c_massgated_density", "sf0.1") -> 0.68,
    ("qe22c_massgated_mutual_nn", "sf0.01") -> 0.53, ("qe22c_massgated_mutual_nn", "sf0.1") -> 0.61,
    ("qe25c_massgated_confusion", "sf0.01") -> 0.50, ("qe25c_massgated_confusion", "sf0.1") -> 0.55)

  private val results =
    scala.collection.mutable.LinkedHashMap[(String, String), (Double, Double, String)]()

  // The exact all-pairs gram-Jaccard ground truth is the spec's most
  // expensive computation (minutes at sf0.1) and TWO tests per sf need
  // it (qd6 fused, qd6b probe) — compute once per sf and persist.
  private val exactJacCache =
    scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
  private def exactJaccardPairs(dir: String): org.apache.spark.sql.DataFrame =
    exactJacCache.getOrElseUpdate(dir, {
      val g = Tables.documents(spark, dir)
        .withColumn("grams", array_distinct(functions.TextFunctions.wordGrams(
          functions.TextFunctions.tokens(col("text")), 3)))
        .filter(size(col("grams")) > 0)
        .select("doc_id", "grams")
      // inverted-index form of the SAME exact ground truth. The
      // old all-pairs theta join evaluated array_intersect/array_union
      // on every (n choose 2) doc pair — minutes at sf0.1, the single
      // largest cost in the whole suite (an earlier `sbt test`
      // died mid-suite on wall clock). Equivalence is exact, not
      // approximate: grams are distinct, so |A∪B| = |A|+|B|-|A∩B| with
      // integer counts, the division is the same double op
      // TextFunctions.jaccard performs, and any pair with jac >= 0.5
      // shares >= 1 gram so the gram equi-join reaches every
      // qualifying pair (a 0-overlap pair has jac 0 and never
      // qualified). The "exact-Jaccard ground truth" test below pins
      // the two forms equal at sf0.01.
      val sizes = g.select(col("doc_id"), size(col("grams")).as("sz"))
      val posts = g.select(col("doc_id"), explode(col("grams")).as("gram"))
      posts.as("x").join(posts.as("y"),
          col("x.gram") === col("y.gram") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), Seq("doc_b"))
        .filter(col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")).cast("double") >= 0.5)
        .select("doc_a", "doc_b")
        .persist()
    })

  /** Gated-trio floor from the PERSISTED sweep curve when one exists
    * for this corpus: measured recall at the
    * budget the production build RESOLVED (curve-sized when a
    * current sweep exists) minus the one-unlucky-corpus margin (0.10),
    * floored to 2dp. Floor policy: when sizing kept the static budget,
    * the effective floor is max(static, sweep-derived) — a sweep can
    * only TIGHTEN the constant build's floor. When sizing chose a
    * DIFFERENT budget, the static floor was measured under another
    * configuration and does not apply; the sweep-derived floor (itself
    * measured-minus-margin, and ≥ target − margin by the sizing rule)
    * is the hard floor, recorded in RECALL.json like any other.
    * Returns (floor, sizedAway).
    */
  private def sweepFloor(name: String, sf: Sf): Option[(Double, Boolean)] = {
    val massCol = name match {
      case "qe15c_massgated_density" => Some(3)
      case "qe22c_massgated_mutual_nn" => Some(4)
      case "qe25c_massgated_confusion" => Some(5)
      case _ => None
    }
    def pick(c: Int, r: (_, _, Double, Double, Double)) = c match {
      case 3 => r._3
      case 4 => r._4
      case _ => r._5
    }
    // the production build is sized by GateRule.resolved (curve-driven
    // when a current sweep exists), so the floor must read the curve at
    // the budget the build ACTUALLY used — reading the static constant
    // would floor a 0.2-sized build against 0.35's measured recall and
    // fail spuriously.
    val measured = massCol.flatMap { c =>
      val f = queries.GateRule.resolved(sf.dir)
      queries.GateCurve.read(sf.dir)
        .flatMap(_.find(_._1 == f))
        .map(r => (pick(c, r), c, f != queries.VectorQueries.GateMassFrac))
    }
    // when sizing chose a non-constant budget, the
    // sweep-derived floor is measured-minus-margin AT the budget the
    // same sweep picked — self-certifying on its own. There the sizing
    // rule's own promises (recall15 >= target, secondaries >=
    // GateSecondaryMin, both checked by GateCurve.cheapest)
    // become an ABSOLUTE backstop, derated by the same 0.10 margin: a
    // sized build may never floor below what certification guaranteed,
    // no matter what the curve says. Constant-fallback builds keep the
    // plain derated sweep — max()ed against the static floor in
    // record(), which is already an independent bound (and the mass
    // trio's recall legitimately floats below target by design there).
    measured.map { case (m, c, sized) =>
      val derated = math.floor((m - 0.10) * 100) / 100
      val backstop = (if (c == 3) queries.VectorQueries.GateRecallTarget
                      else queries.VectorQueries.GateSecondaryMin) - 0.10
      (if (sized) math.max(derated, backstop) else derated, sized)
    }
  }

  private def record(name: String, sf: Sf, recall: Double, vs: String): Unit = {
    val static = floors(name -> sf.label)
    val floor = sweepFloor(name, sf) match {
      case Some((sw, true)) => sw // sized away from the constant build
      case Some((sw, false)) => math.max(static, sw)
      case None => static
    }
    results(name -> sf.label) = (recall, floor, vs)
    info(f"$name@${sf.label} recall $recall%.4f (floor $floor%.2f)")
    assert(recall >= floor,
      f"$name@${sf.label} recall $recall%.3f below floor $floor%.2f")
  }

  test("exact-Jaccard ground truth: inverted-index form == theta-join form [sf0.01]") {
    // guards the inverted-index rewrite above: the recall floors are only as good
    // as their ground truth, so the cheap sf (125k pairs) re-derives it
    // the retired all-pairs way and demands set equality
    val dir = "/root/testdata/sf0.01"
    val g = Tables.documents(spark, dir)
      .withColumn("grams", array_distinct(functions.TextFunctions.wordGrams(
        functions.TextFunctions.tokens(col("text")), 3)))
      .filter(size(col("grams")) > 0)
      .select("doc_id", "grams")
    val theta = g.as("x").join(g.as("y"), col("x.doc_id") < col("y.doc_id"))
      .withColumn("jac", functions.TextFunctions.jaccard(col("x.grams"), col("y.grams")))
      .filter(col("jac") >= 0.5)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val inv = exactJaccardPairs(dir)
    assert(inv.exceptAll(theta).isEmpty && theta.exceptAll(inv).isEmpty,
      "inverted-index exact-Jaccard ground truth diverged from the all-pairs form")
  }

  for (sf <- sfs) {
    test(s"qe2 sign-LSH ANN recall@5 vs exact cosine top-k [${sf.label}]") {
      val exact = queries.VectorQueries.qe1(spark, sf.dir).select("query_id", "neighbor_id")
      val ann = queries.VectorQueries.qe2(spark, sf.dir).select("query_id", "neighbor_id")
      val n = exact.count()
      val hit = exact.join(ann, Seq("query_id", "neighbor_id"), "left_semi").count()
      record("qe2_ann_lsh", sf, hit.toDouble / n, "qe1 exact top-5, 10 queries")
    }

    test(s"qe5 IVF ANN recall@5 vs exact cosine top-k [${sf.label}]") {
      val exact = queries.VectorQueries.qe1(spark, sf.dir).select("query_id", "neighbor_id")
      val ivf = queries.VectorQueries.qe5(spark, sf.dir).select("query_id", "neighbor_id")
      val n = exact.count()
      val hit = exact.join(ivf, Seq("query_id", "neighbor_id"), "left_semi").count()
      record("qe5_ann_ivf", sf, hit.toDouble / n, "qe1 exact top-5, 4/16 probes")
    }

    test(s"qe4b banded-LSH dedup candidate recall vs exact pairs at cos >= 0.4 [${sf.label}]") {
      val e = Tables.embeddings(spark, sf.dir)
        .withColumn("vec", functions.VectorFunctions.toDouble(col("embedding")))
        .withColumn("nrm", functions.VectorFunctions.norm(col("vec")))
      val a = e.select(col("vec_id").as("ida"), col("vec").as("va"), col("nrm").as("na"))
      val b = e.select(col("vec_id").as("idb"), col("vec").as("vb"), col("nrm").as("nb"))
      val exact = a.join(b, col("ida") < col("idb"))
        .withColumn("cos", functions.VectorFunctions.cosine(
          col("va"), col("vb"), col("na"), col("nb")))
        .filter(col("cos") >= 0.4)
        .select("ida", "idb")
      val n = exact.count()
      val hit = exact.join(queries.VectorQueries.qe4bCandidates(spark, sf.dir),
        Seq("ida", "idb"), "left_semi").count()
      record("qe4b_embedding_dedup_lsh", sf, hit.toDouble / n, "exact all-pairs cos >= 0.4")
    }

    test(s"qd6 MinHash-LSH candidate recall vs exact Jaccard >= 0.5 pairs [${sf.label}]") {
      val exact = exactJaccardPairs(sf.dir)
      val n = exact.count()
      val hit = exact.join(queries.TextQueries.qd6CandidatePairs(spark, sf.dir),
        Seq("doc_a", "doc_b"), "left_semi").count()
      record("qd6_minhash_lsh", sf, hit.toDouble / n, "exact all-pairs Jaccard >= 0.5")
    }

    test(s"qd7 SimHash band-blocking candidate recall vs exact Hamming <= 6 pairs [${sf.label}]") {
      val fps = queries.TextQueries.qd7Fingerprints(spark, sf.dir)
      val exact = fps.as("x").join(fps.as("y"), col("x.doc_id") < col("y.doc_id"))
        .filter(bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))) <= 6)
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      val n = exact.count()
      val hit = exact.join(queries.TextQueries.qd7CandidatePairs(spark, sf.dir),
        Seq("doc_a", "doc_b"), "left_semi").count()
      record("qd7_simhash", sf, hit.toDouble / n, "exact all-pairs Hamming <= 6")
    }

    test(s"qe6 int8-quantized top-k recall@5 vs exact float top-k [${sf.label}]") {
      val exact = queries.VectorQueries.qe1(spark, sf.dir).select("query_id", "neighbor_id")
      val quant = queries.VectorQueries.qe6(spark, sf.dir).select("query_id", "neighbor_id")
      val n = exact.count()
      val hit = exact.join(quant, Seq("query_id", "neighbor_id"), "left_semi").count()
      record("qe6_quantized_topk", sf, hit.toDouble / n, "qe1 exact top-5, int8 SQ")
    }

    test(s"qd13b Bloom prefilter: no false negatives vs exact qd13, precision bounded [${sf.label}]") {
      // qd13b's OUTPUT is the cascade (prefilter + exact verify)
      // and is hash-matched against qd13's oracle in CORRECTNESS — the
      // recall artifact instead floors the PREFILTER stage, where the
      // one-sided Bloom guarantee lives and where an fpp drift would
      // show up (the cascade's output hides it as extra stage-2 work)
      val exact = queries.TextQueries.qd13(spark, sf.dir)
        .filter(col("contaminated")).select("doc_id")
      val bloom = queries.TextQueries.qd13bPrefilter(spark, sf.dir)
        .filter(col("contaminated")).select("doc_id")
      val n = exact.count()
      val hit = exact.join(bloom, Seq("doc_id"), "left_semi").count()
      record("qd13b_bloom_decontam", sf, hit.toDouble / n,
        "exact qd13 gram-join flags, Bloom prefilter stage")
      // over-flagging is the fpp side: the build's 1e-6 per-gram fpp
      // compounds over a doc's hundreds of gram probes to ~3e-4 per
      // doc (see bloomBuild), so flag precision stays near 1 — 0.9
      // leaves headroom for an unlucky corpus without masking an fpp
      // regression (at build fpp 1e-2 this assertion fails hard)
      val prec = hit.toDouble / bloom.count()
      assert(prec >= 0.9, f"qd13b prefilter precision $prec%.3f below 0.9 — fpp drifted")
      // and the cascade's equality with exact qd13 — cheap here, the
      // frames are already built (the oracle pins it again in Verify)
      val casc = queries.TextQueries.qd13b(spark, sf.dir)
      assert(casc.exceptAll(queries.TextQueries.qd13(spark, sf.dir)).isEmpty &&
        queries.TextQueries.qd13(spark, sf.dir).exceptAll(casc).isEmpty,
        "cascade output diverged from exact qd13")
    }

    test(s"qd6b persisted-index probe candidate recall vs exact Jaccard >= 0.5 pairs [${sf.label}]") {
      val exact = exactJaccardPairs(sf.dir)
      val n = exact.count()
      val hit = exact.join(queries.TextQueries.qd6bCandidatePairs(spark, sf.dir),
        Seq("doc_a", "doc_b"), "left_semi").count()
      record("qd6b_minhash_probe", sf, hit.toDouble / n,
        "exact all-pairs Jaccard >= 0.5, persisted-index probe path")
    }

    test(s"qe5b persisted-IVF probe recall@5 vs exact cosine top-k [${sf.label}]") {
      val exact = queries.VectorQueries.qe1(spark, sf.dir).select("query_id", "neighbor_id")
      val probe = queries.VectorQueries.qe5b(spark, sf.dir).select("query_id", "neighbor_id")
      val n = exact.count()
      val hit = exact.join(probe, Seq("query_id", "neighbor_id"), "left_semi").count()
      record("qe5b_ann_ivf_probe", sf, hit.toDouble / n,
        "qe1 exact top-5, persisted-quantizer probe path")
    }

    test(s"qe14 PQ-ADC ANN recall@5 vs exact cosine top-k [${sf.label}]") {
      val exact = queries.VectorQueries.qe1(spark, sf.dir).select("query_id", "neighbor_id")
      val pq = queries.VectorQueries.qe14(spark, sf.dir).select("query_id", "neighbor_id")
      val n = exact.count()
      val hit = exact.join(pq, Seq("query_id", "neighbor_id"), "left_semi").count()
      record("qe14_pq_ann", sf, hit.toDouble / n,
        "qe1 exact top-5, 8x16 PQ codebooks, ADC shortlist 50 + exact rerank")
    }

    test(s"qe14b persisted-PQ probe recall@5 vs exact cosine top-k [${sf.label}]") {
      val exact = queries.VectorQueries.qe1(spark, sf.dir).select("query_id", "neighbor_id")
      val probe = queries.VectorQueries.qe14b(spark, sf.dir).select("query_id", "neighbor_id")
      val n = exact.count()
      val hit = exact.join(probe, Seq("query_id", "neighbor_id"), "left_semi").count()
      record("qe14b_pq_probe", sf, hit.toDouble / n,
        "qe1 exact top-5, persisted codes+codebook probe path")
    }

    test(s"qe19 binary-sign Hamming shortlist recall@5 vs exact cosine top-k [${sf.label}]") {
      val exact = queries.VectorQueries.qe1(spark, sf.dir).select("query_id", "neighbor_id")
      val bin = queries.VectorQueries.qe19(spark, sf.dir).select("query_id", "neighbor_id")
      val n = exact.count()
      val hit = exact.join(bin, Seq("query_id", "neighbor_id"), "left_semi").count()
      record("qe19_binary_ann", sf, hit.toDouble / n,
        "qe1 exact top-5, 64-bit sign words, Hamming shortlist 50 + exact rerank")
    }

    test(s"qe20 IVF-PQ recall@5 vs exact cosine top-k [${sf.label}]") {
      val exact = queries.VectorQueries.qe1(spark, sf.dir).select("query_id", "neighbor_id")
      val ivfpq = queries.VectorQueries.qe20(spark, sf.dir).select("query_id", "neighbor_id")
      val n = exact.count()
      val hit = exact.join(ivfpq, Seq("query_id", "neighbor_id"), "left_semi").count()
      record("qe20_ivf_pq", sf, hit.toDouble / n,
        "qe1 exact top-5, 4/16 probed lists x PQ-ADC shortlist 100 (2x PqShort) + exact rerank")
    }

    test(s"qe7 truncated-prefix rerank recall@5 vs full-dim top-k [${sf.label}]") {
      // Random vectors are the WORST case for prefix truncation (no
      // energy concentration — a trained Matryoshka embedding would score
      // far higher); floors reflect that regime.
      val exact = queries.VectorQueries.qe1(spark, sf.dir).select("query_id", "neighbor_id")
      val trunc = queries.VectorQueries.qe7(spark, sf.dir).select("query_id", "neighbor_id")
      val n = exact.count()
      val hit = exact.join(trunc, Seq("query_id", "neighbor_id"), "left_semi").count()
      record("qe7_truncated_rerank", sf, hit.toDouble / n,
        "qe1 exact top-5, 16/64-dim coarse + n/5 rerank pool")
    }

    test(s"qe15c mass-gated density neighbor recall@5 vs exact all-pairs [${sf.label}]") {
      val exact = queries.VectorQueries.knnPairsExact(spark, sf.dir)
      val gated = queries.VectorQueries.knnPairsAt(spark, sf.dir)
      val n = exact.count()
      val hit = exact.join(gated, Seq("ida", "idb"), "left_semi").count()
      record("qe15c_massgated_density", sf, hit.toDouble / n,
        "qe15 exact 5-NN pairs, mass-budgeted gate at ceil(0.35n) scanned mass")
    }

    test(s"qe22c mass-gated mutual-NN pair recall vs exact qe22 [${sf.label}]") {
      val exact = queries.VectorQueries.qe22(spark, sf.dir).select("vec_a", "vec_b")
      val gated = queries.VectorQueries.qe22c(spark, sf.dir).select("vec_a", "vec_b")
      val n = exact.count()
      val hit = exact.join(gated, Seq("vec_a", "vec_b"), "left_semi").count()
      record("qe22c_massgated_mutual_nn", sf,
        if (n == 0) 1.0 else hit.toDouble / n,
        "qe22 exact mutual-top-1 pairs, mass-budgeted gate at ceil(0.35n)")
    }

    test(s"qe25c mass-gated kNN-vote prediction agreement vs exact qe25 [${sf.label}]") {
      val exact = queries.VectorQueries.qe25PredExact(spark, sf.dir)
        .select(col("ida"), col("pred_label").as("pe"))
      val gated = queries.VectorQueries.qe25PredAt(spark, sf.dir)
        .select(col("ida"), col("pred_label").as("pg"))
      val n = exact.count()
      val hit = exact.join(gated, Seq("ida"))
        .filter(col("pe") === col("pg")).count()
      record("qe25c_massgated_confusion", sf, hit.toDouble / n,
        "qe25 exact LOO votes, mass-budgeted gate at ceil(0.35n)")
    }
  }

  test("write RECALL.json artifact") {
    // MERGE with the on-disk artifact by (sf, name)
    // instead of rebuilding it from this run alone — a partial or
    // interrupted run (a subset run once erased 17 of 20 sf0.1
    // entries) now refreshes only what it measured and
    // every other committed entry survives. Keys outside the floors map
    // are dropped so a renamed operator can't linger.
    val current = results.map { case ((k, l), (r, f, vs)) =>
      (l, k) -> f"""{"recall": $r%.4f, "floor": $f%.2f, "exact_twin": "$vs"}"""
    }.toMap
    val path = java.nio.file.Paths.get("/root/repo/RECALL.json")
    java.nio.file.Files.writeString(path,
      RecallArtifact.mergedText(path, current,
        key => floors.contains((key._2, key._1)), sfs.map(_.label)))
    // every floored operator must have recorded at BOTH sfs — derive
    // the expected count from the floors map so adding an operator
    // can't silently leave the artifact partial (and the count can't
    // go stale the way the hard-coded 14 did when qd13b landed).
    // Asserting AFTER the write is safe now: the merge is lossless, so
    // a partial run fails loudly without destroying committed entries.
    assert(results.size == floors.size,
      s"recorded ${results.size} measurements, floors define ${floors.size}")
    assert(floors.keySet.forall(results.contains),
      s"missing measurements for: ${floors.keySet -- results.keySet}")
  }
}
