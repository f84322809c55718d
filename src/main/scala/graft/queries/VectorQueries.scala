package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.PrincipalComponents
import graft.operators.Rounding.dround
import graft.sources.{HadoopFs, PersistedIndex}

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the exact baseline (qe1), sign-LSH
  * bucketed ANN as the scale path (qe2), and kNN majority-label
  * classification on top of the exact neighbors (qe3).
  */
object VectorQueries {

  private val K = 5
  private val NQUERIES = 10

  private[queries] def embs(s: SparkSession, dir: String): DataFrame = {
    registerNative(s)
    Tables.embeddings(s, dir)
      .withColumn("vec", toDouble(col("embedding")))
      .withColumn("nrm", norm(col("vec")))
      .select("vec_id", "label", "vec", "nrm")
  }

  /** Exact top-k neighbors (cosine) of each query vector. The query set
    * is broadcast against the corpus — one scan, no shuffle of the big
    * side; ranking is a per-query window.
    */
  private def topkExact(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dround(cosine(col("qvec"), col("vec"), col("qnrm"), col("nrm")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rnk") <= K)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("label"),
        col("cosine"), col("rnk"))
  }

  // ---------------------------------------------------------------- qe1
  def qe1(s: SparkSession, dir: String): DataFrame =
    topkExact(s, dir).select("query_id", "neighbor_id", "cosine", "rnk")

  private val qe1Sql =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |n AS (SELECT vec_id, label, vec,
       |             sqrt(list_dot_product(vec, vec)) AS nrm FROM e),
       |p AS (
       |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
       |         round(list_dot_product(q.vec, d.vec) / (q.nrm * d.nrm), 6) AS cosine
       |  FROM n q, n d
       |  WHERE q.vec_id < $NQUERIES AND d.vec_id <> q.vec_id)
       |SELECT query_id, neighbor_id, cosine, rnk FROM (
       |  SELECT *, CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rnk
       |  FROM p)
       |WHERE rnk <= $K""".stripMargin

  // ---------------------------------------------------------------- qe2
  /** Sign-LSH ANN, banded: 16 bands × 4 hyperplane bits; a corpus vector
    * is scored for a query iff they collide in ≥1 band (OR-of-ANDs —
    * a single 12-bit bucket had measured recall@5 of 0.0 on this
    * data: near-orthogonal true neighbors collide on 12 fixed bits with
    * p ≈ 0.55¹² ≈ 1e-3). With 16×4, a cos-0.3 neighbor misses every band
    * with (1−0.597⁴)¹⁶ ≈ 0.11. No SQL oracle (bucket assignment is
    * engine-side); recall vs qe1 asserted with a floor in RecallSpec.
    * The candidate join stays an equi-join on (band, bucket) — the
    * posting-list shape that replaces the full cross product at corpus
    * scale; recall/candidate-volume is tuned by (bands, bits) alone.
    */
  private val ANN_BANDS = 16
  private val ANN_RBITS = 4

  def qe2(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
      .withColumn("bks", lshBandBuckets(col("vec"), ANN_BANDS, ANN_RBITS, 64))
    val posts = e.select(col("vec_id"), posexplode_outer(col("bks")).as(Seq("band", "bucket")))
    val qposts = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"),
        posexplode_outer(col("bks")).as(Seq("band", "bucket")))
    val cand = posts.join(broadcast(qposts), Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
      .distinct()
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    cand
      .join(e.select("vec_id", "vec", "nrm"), Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine", dround(cosine(col("qvec"), col("vec"), col("qnrm"), col("nrm")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rnk") <= K)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"), col("rnk"))
  }

  // ---------------------------------------------------------------- qe3
  /** kNN majority-label classification over the exact top-k neighbors
    * (ties broken by smaller label), with the true label for accuracy
    * inspection.
    */
  def qe3(s: SparkSession, dir: String): DataFrame = {
    val nn = topkExact(s, dir)
    val votes = nn.groupBy("query_id", "label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("votes").desc, col("label").asc)))
      .filter(col("vr") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("votes"))
    val truth = embs(s, dir).select(col("vec_id").as("query_id"), col("label").as("true_label"))
    votes.join(truth, Seq("query_id"))
      .withColumn("correct", col("pred_label") === col("true_label"))
      .select("query_id", "pred_label", "votes", "true_label", "correct")
  }

  private val qe3Sql =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |n AS (SELECT vec_id, label, vec,
       |             sqrt(list_dot_product(vec, vec)) AS nrm FROM e),
       |p AS (
       |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id, d.label,
       |         round(list_dot_product(q.vec, d.vec) / (q.nrm * d.nrm), 6) AS cosine
       |  FROM n q, n d
       |  WHERE q.vec_id < $NQUERIES AND d.vec_id <> q.vec_id),
       |nn AS (
       |  SELECT * FROM (
       |    SELECT *, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rnk
       |    FROM p)
       |  WHERE rnk <= $K),
       |v AS (
       |  SELECT query_id, label AS pred_label, count(*) AS votes,
       |         row_number() OVER (PARTITION BY query_id
       |             ORDER BY count(*) DESC, label) AS vr
       |  FROM nn GROUP BY query_id, label)
       |SELECT v.query_id, v.pred_label, v.votes, t.label AS true_label,
       |       v.pred_label = t.label AS correct
       |FROM v JOIN e t ON v.query_id = t.vec_id
       |WHERE v.vr = 1""".stripMargin

  // ---------------------------------------------------------------- qe4
  /** Embedding-cosine near-duplicate dedup: per vector, the number of
    * neighbors with cosine ≥ threshold, the max similarity, and a `keep`
    * flag (canonical = no near-duplicate with a smaller id). Exact
    * all-pairs semantics so the oracle can replicate it; at corpus scale
    * swap the pair source for the sign-LSH bucket join of qe2 (same
    * aggregation, candidates instead of all pairs).
    */
  def qe4(s: SparkSession, dir: String): DataFrame = {
    val t = 0.4
    val e = embs(s, dir)
    val a = e.select(col("vec_id").as("ida"), col("vec").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("idb"), col("vec").as("vb"), col("nrm").as("nb"))
    val near = a.join(b, col("ida") =!= col("idb"))
      .withColumn("cos", dround(cosine(col("va"), col("vb"), col("na"), col("nb")), 6))
      .filter(col("cos") >= t)
      .groupBy(col("ida"))
      .agg(
        count(lit(1)).as("n_near"),
        max(col("cos")).as("max_cos"),
        max(when(col("idb") < col("ida"), 1).otherwise(0)).as("_smaller"))
    e.select(col("vec_id"))
      .join(near, col("vec_id") === col("ida"), "left")
      .select(
        col("vec_id"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("max_cos"),
        coalesce(col("_smaller") === 0, lit(true)).as("keep"))
  }

  private val qe4Sql = qe4SqlAt("0.4")

  /** Banded sign-LSH CTE chain: the hyperplane matrix is
    * regenerated in SQL from the md5 closed form
    * ([[graft.functions.expr.LshBandBuckets.planeWeight]]), dots run
    * through SEQUENTIAL `list_dot_product` against d-ordered plane
    * lists (bit-equal to the native expression's inner loop), and band
    * buckets assemble as disjoint bit sums — so the CANDIDATE SET is
    * SQL-replicable and qe2/qe4b hash-match transparent-model oracles.
    * Ends at `vb` = (vec_id, band, bucket).
    */
  private def lshCtes(bands: Int, r: Int, seed: Long = 42L): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM e),
       |pl AS (
       |  SELECT m // 64 AS pid, m % 64 AS d,
       |         CAST('0x' || substr(md5('$seed:' || m), 1, 15) AS BIGINT)
       |           / 1152921504606846976.0 - 0.5 AS w
       |  FROM (SELECT unnest(range(0, ${bands * r * 64})) AS m)),
       |pw AS (SELECT pid, list(w ORDER BY d) AS warr FROM pl GROUP BY pid),
       |sgn AS (
       |  SELECT n.vec_id, CAST(p.pid // $r AS INT) AS band,
       |         CASE WHEN list_dot_product(n.vec, p.warr) > 0
       |           THEN CAST(1 AS INT) << CAST(p.pid % $r AS INT) ELSE 0 END AS bit
       |  FROM n, pw p),
       |vb AS (SELECT vec_id, band, CAST(sum(bit) AS INT) AS bucket
       |       FROM sgn GROUP BY vec_id, band)""".stripMargin

  /** qe2 oracle: LSH chain at the ANN banding, query-side postings,
    * exact 6dp-cosine rerank of candidates.
    */
  private lazy val qe2Sql =
    s"""${lshCtes(ANN_BANDS, ANN_RBITS)},
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
       |  FROM vb q JOIN vb c ON q.band = c.band AND q.bucket = c.bucket
       |  WHERE q.vec_id < $NQUERIES AND c.vec_id <> q.vec_id)
       |SELECT query_id, neighbor_id, cosine, rnk FROM (
       |  SELECT cand.query_id, cand.vec_id AS neighbor_id,
       |         round(list_dot_product(q.vec, d.vec) / (q.nrm * d.nrm), 6) AS cosine,
       |         CAST(row_number() OVER (PARTITION BY cand.query_id ORDER BY
       |           round(list_dot_product(q.vec, d.vec) / (q.nrm * d.nrm), 6) DESC,
       |           cand.vec_id) AS INT) AS rnk
       |  FROM cand
       |  JOIN n q ON q.vec_id = cand.query_id
       |  JOIN n d ON d.vec_id = cand.vec_id)
       |WHERE rnk <= $K""".stripMargin

  /** qe4b oracle: LSH chain at the dedup banding, qe4's aggregation
    * over the banded-then-verified pairs.
    */
  private lazy val qe4bSql =
    s"""${lshCtes(BANDS, RBITS)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
       |  FROM vb a JOIN vb b ON a.band = b.band AND a.bucket = b.bucket
       |   AND a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT ida, idb,
       |         round(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6) AS cos
       |  FROM cand JOIN n a ON a.vec_id = ida JOIN n b ON b.vec_id = idb
       |  WHERE round(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6) >= 0.4),
       |directed AS (SELECT ida, idb, cos FROM scored
       |             UNION ALL SELECT idb, ida, cos FROM scored),
       |near AS (
       |  SELECT ida, count(*) AS n_near, max(cos) AS max_cos,
       |         max(CASE WHEN idb < ida THEN 1 ELSE 0 END) AS smaller
       |  FROM directed GROUP BY ida)
       |SELECT e.vec_id,
       |  CAST(coalesce(near.n_near, 0) AS BIGINT) AS n_near,
       |  near.max_cos,
       |  coalesce(near.smaller = 0, true) AS keep
       |FROM e LEFT JOIN near ON e.vec_id = near.ida""".stripMargin

  private def qe4SqlAt(t: String) =
    s"""WITH e AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM e),
       |pairs AS (
       |  SELECT a.vec_id AS ida, b.vec_id AS idb,
       |         round(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6) AS cos
       |  FROM n a, n b WHERE a.vec_id <> b.vec_id),
       |near AS (
       |  SELECT ida, count(*) AS n_near, max(cos) AS max_cos,
       |         max(CASE WHEN idb < ida THEN 1 ELSE 0 END) AS smaller
       |  FROM pairs WHERE cos >= $t GROUP BY ida)
       |SELECT e.vec_id,
       |  CAST(coalesce(near.n_near, 0) AS BIGINT) AS n_near,
       |  near.max_cos,
       |  coalesce(near.smaller = 0, true) AS keep
       |FROM e LEFT JOIN near ON e.vec_id = near.ida""".stripMargin

  // ---------------------------------------------------------------- qe4b
  /** qe4's near-dup dedup with LSH candidate generation instead of the
    * all-pairs non-equi join (which plans as BroadcastNestedLoopJoin —
    * the O(n²) wall). Candidates come from a banded
    * sign-LSH posting list: a pair is scored iff it shares a bucket in
    * ≥1 of `BANDS` bands of `RBITS` hyperplane bits; the aggregation
    * (n_near / max_cos / keep) is qe4's, unchanged, so the exact
    * all-pairs SQL remains the oracle.
    *
    * Parameter regime, stated honestly: the testdata's ≥0.4 pairs are
    * the ~3.2σ tail of random 64-dim pairs (measured: max cos 0.60, no
    * planted high-sim dups), so per-bit collision is p1≈0.63 vs p2=0.5
    * for a random pair — LSH exponent ρ = ln p1/ln p2 ≈ 0.67, i.e.
    * candidates ~ n^1.67: sub-quadratic but not cheap. 64 bands × 6 bits
    * give per-pair miss (1−0.63⁶)^64 ≈ 1.6% at the exact 0.40 boundary
    * (≤0.3% by cos 0.5); with 64×4 bands a random pair collides
    * somewhere with p = 1−(1−2⁻⁴)⁶⁴ ≈ 0.98 — i.e. the candidate set WAS
    * all pairs plus posting-join overhead. 6-bit bands cut posting-join
    * volume 4× and candidates ~35%; the check is recall-floored
    * (RecallSpec ≥0.9, RECALL.json) rather than exact-hash (an
    * approximate operator must fail as a recall regression, not
    * masquerade as a correctness bug). At a realistic dedup threshold
    * (cos ≥ 0.8, p1≈0.8) the same code needs ~8 bands for the same
    * recall and candidates collapse to near-linear — that is the 100 TB
    * operating point (see qe4c).
    */
  private val BANDS = 64
  private val RBITS = 6

  def qe4b(s: SparkSession, dir: String): DataFrame =
    lshDedup(s, dir, 0.4, BANDS, RBITS)

  private def lshDedup(s: SparkSession, dir: String, t: Double,
      bands: Int, rbits: Int): DataFrame =
    lshDedupFrom(embs(s, dir), t, bands, rbits)

  /** Core LSH dedup over a prepared (vec_id, vec, nrm) frame — also the
    * entry point for the planted-duplicate test, which brings its own
    * corpus.
    */
  def lshDedupFrom(e: DataFrame, t: Double,
      bands: Int, rbits: Int): DataFrame = {
    // posexplode_outer, deliberately: plain posexplode makes Spark add a
    // size(bks)>0 pre-filter that DUPLICATES the whole hyperplane
    // bucket expression into the scan (measured 14 s at sf0.1); the
    // array is a fixed-length construction, never empty, so the
    // outer variant is equivalent and skips the filter entirely.
    val posts = e
      .withColumn("bks", lshBandBuckets(col("vec"), bands, rbits, 64))
      .select(col("vec_id"), posexplode_outer(col("bks")).as(Seq("band", "bucket")))
      // tiny-input parallelism: a 2k-row scan is one partition, which would
      // funnel the multi-million-row band join through a single task;
      // repartitioning postings on the join key spreads it and satisfies
      // the join's distribution requirement (no second shuffle). A real
      // corpus scan is already partitioned.
      .repartition(col("band"), col("bucket"))
    // candidate pairs: equi-join on (band, bucket), deduped across bands
    val cand = posts.as("x").join(posts.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("ida"), col("y.vec_id").as("idb"))
      .distinct()
    val va = e.select(col("vec_id").as("ida"), col("vec").as("va"), col("nrm").as("na"))
    val vb = e.select(col("vec_id").as("idb"), col("vec").as("vb"), col("nrm").as("nb"))
    // vectors fetched by id AFTER the pair dedup — the pair stream must
    // never shuffle 64-dim arrays. No broadcast hint: AQE broadcasts the
    // vector table while it fits and degrades to a shuffled join beyond
    // driver memory instead of failing outright
    val scored = cand.join(va, Seq("ida")).join(vb, Seq("idb"))
      .withColumn("cos", dround(cosine(col("va"), col("vb"), col("na"), col("nb")), 6))
      .filter(col("cos") >= t)
      .select("ida", "idb", "cos")
    // mirror to directed pairs so the aggregation is qe4's, verbatim
    val directed = scored.unionByName(
      scored.select(col("idb").as("ida"), col("ida").as("idb"), col("cos")))
    val near = directed.groupBy("ida").agg(
      count(lit(1)).as("n_near"),
      max(col("cos")).as("max_cos"),
      max(when(col("idb") < col("ida"), 1).otherwise(0)).as("_smaller"))
    e.select(col("vec_id"))
      .join(near, col("vec_id") === col("ida"), "left")
      .select(
        col("vec_id"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("max_cos"),
        coalesce(col("_smaller") === 0, lit(true)).as("keep"))
  }

  // --------------------------------------------------------------- qe4c
  /** The 100 TB operating point: LSH near-dup dedup at a REALISTIC
    * threshold (cos ≥ 0.8 — actual near-duplicates, not the 3.2σ random
    * tail qe4b is parameterized for). 64 bands × 16 bits: a random pair
    * collides somewhere with p = 1−(1−2⁻¹⁶)⁶⁴ ≈ 0.1% — the candidate
    * set is ~0.05% of all pairs, i.e. near-LINEAR in the corpus, while a
    * genuine near-dup (cos 0.9, p1≈0.90) is missed with (1−0.9¹⁶)⁶⁴
    * < 1e-5. This is the regime where the LSH shape beats brute force by
    * orders of magnitude; planted-duplicate detection is asserted in
    * TextVectorSpec, and the exact all-pairs SQL at t=0.8 is the oracle
    * (this data's max pairwise cos is 0.60, so both sides agree that
    * nothing is a near-dup — the contract being checked is the
    * left-join/keep/null-max_cos shape on the no-dup corpus).
    */
  def qe4c(s: SparkSession, dir: String): DataFrame =
    lshDedup(s, dir, 0.8, 64, 16)

  /** Candidate pairs only (ida < idb) — exposed for the recall test. */
  def qe4bCandidates(s: SparkSession, dir: String): DataFrame = {
    val posts = embs(s, dir)
      .withColumn("bks", lshBandBuckets(col("vec"), BANDS, RBITS, 64))
      .select(col("vec_id"), posexplode_outer(col("bks")).as(Seq("band", "bucket")))
      // tiny-input parallelism: a 2k-row scan is one partition, which would
      // funnel the multi-million-row band join through a single task;
      // repartitioning postings on the join key spreads it and satisfies
      // the join's distribution requirement (no second shuffle). A real
      // corpus scan is already partitioned.
      .repartition(col("band"), col("bucket"))
    posts.as("x").join(posts.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("ida"), col("y.vec_id").as("idb"))
      .distinct()
  }

  // ---------------------------------------------------------------- qe6
  /** Quantized top-k: brute-force cosine over int8-quantized embeddings
    * — the 4×-compressed storage layout a 100 TB embedding store
    * actually serves from (FAISS SQ8 / product-quantization-lite).
    * Scale cancels in cosine, so similarity is pure integer arithmetic
    * (dots ≤ 64·127² — exact in doubles on any engine), which is why
    * this APPROXIMATE representation still hash-matches a DuckDB oracle
    * exactly: the quantization error is deterministic, not random.
    * Accuracy vs the float path is asserted in tests (max |Δcos| and
    * top-5 recall vs qe1).
    */
  def qe6(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
      .withColumn("qscale", quantScale(col("vec")))
      .withColumn("qv", quantize8(col("vec"), col("qscale")))
      .withColumn("qnrm", sqrt(dot(col("qv"), col("qv"))))
      .select("vec_id", "qv", "qnrm")
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("qnrm").as("qqnrm"))
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      // zero-norm guard: an all-zero vector quantizes to qnrm 0 and
      // 0/0 = NaN, whose SORT position differs between engines — pin
      // the degenerate case to cosine 0 on both sides
      .withColumn("qcosine",
        when(col("qqnrm") === 0.0 || col("qnrm") === 0.0, lit(0.0))
          .otherwise(dround(dot(col("qqv"), col("qv")) / (col("qqnrm") * col("qnrm")), 6)))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("qcosine").desc, col("vec_id").asc)))
      .filter(col("rnk") <= K)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("qcosine"), col("rnk"))
  }

  private val qe6Sql =
    s"""WITH e AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |qz AS (
       |  SELECT vec_id,
       |    CASE WHEN list_max(list_transform(vec, y -> abs(y))) = 0
       |      THEN list_transform(vec, x -> CAST(0.0 AS DOUBLE))
       |      ELSE list_transform(vec, x -> CAST(CAST(floor(
       |        x / (list_max(list_transform(vec, y -> abs(y))) / 127.0) + 0.5)
       |        AS BIGINT) AS DOUBLE)) END AS qv
       |  FROM e),
       |n AS (SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS qnrm FROM qz),
       |p AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |         CASE WHEN a.qnrm = 0 OR b.qnrm = 0 THEN 0.0
       |           ELSE round(list_dot_product(a.qv, b.qv) / (a.qnrm * b.qnrm), 6)
       |         END AS qcosine
       |  FROM n a, n b
       |  WHERE a.vec_id < $NQUERIES AND b.vec_id <> a.vec_id)
       |SELECT query_id, neighbor_id, qcosine, rnk FROM (
       |  SELECT *, CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY qcosine DESC, neighbor_id) AS INT) AS rnk
       |  FROM p)
       |WHERE rnk <= $K""".stripMargin

  // ---------------------------------------------------------------- qe7
  /** Staged retrieval: coarse search on a TRUNCATED 16-dim prefix of
    * the embedding (Matryoshka-style dimension-adaptive retrieval),
    * keep the top-`RERANK` candidates per query, then exact full-dim
    * rerank to top-k. The production serving shape: the coarse pass
    * touches 4× less data per vector (and in a real store, a separate
    * narrow column/index), the exact pass runs on a fixed small
    * candidate set. Entirely deterministic — both stages are rankings
    * with id tiebreaks — so the full pipeline is SQL-expressible and
    * oracle-checked; recall vs the full-dim qe1 is asserted in
    * RecallSpec (truncation quality is the only approximation).
    */
  private val TRUNC_DIM = 16
  private val RERANK = 50

  /** Rerank budget scales with the corpus: a FIXED candidate count is a
    * density bug — coarse top-50 of a 10× larger corpus misses most of
    * the exact top-k (measured: recall 0.60 at 500 vectors, 0.24 at
    * 5000 with RERANK=50). A 20% floor keeps the staged shape (the
    * rerank set stays well under the corpus and the full-dim pass is
    * still the minority cost) while leaving recall headroom over the
    * RecallSpec floor — at 10% the sf0.1 margin was one unlucky corpus
    * wide (0.58 vs floor 0.50). The same rule is a
    * scalar subquery in the oracle SQL so both engines cut identically.
    */
  private def rerankBudget(n: Long): Int = math.max(RERANK.toLong, n / 5).toInt

  /** Corpus size per sf dir, computed once: qe7's budget needs the
    * count at PLAN time, and paying a table scan on every DataFrame
    * construction (PlanSpec inspection, query-map assembly) is wrong
    * Keyed by dir — the testdata corpora are immutable.
    */
  private val corpusCount = scala.collection.concurrent.TrieMap.empty[String, Long]

  def qe7(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
      .withColumn("tvec", slice(col("vec"), 1, TRUNC_DIM))
      .withColumn("tnrm", norm(col("tvec")))
    val rerank = rerankBudget(
      corpusCount.getOrElseUpdate(dir, Tables.embeddings(s, dir).count()))
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"),
        col("vec").as("qvec"), col("nrm").as("qnrm"),
        col("tvec").as("qtvec"), col("tnrm").as("qtnrm"))
    val coarse = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      // zero-norm guard (same as qe6): a nonzero vector can still have an
      // all-zero 16-dim PREFIX, making tnrm 0 and tcos NaN/Inf — whose
      // DESC sort position is engine-dependent. Pin the degenerate case
      // to cosine 0 on both sides.
      .withColumn("tcos",
        when(col("qtnrm") === 0.0 || col("tnrm") === 0.0, lit(0.0))
          .otherwise(dround(cosine(col("qtvec"), col("tvec"), col("qtnrm"), col("tnrm")), 6)))
      .withColumn("crnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("tcos").desc, col("vec_id").asc)))
      .filter(col("crnk") <= rerank)
    coarse
      .withColumn("cosine", dround(cosine(col("qvec"), col("vec"), col("qnrm"), col("nrm")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rnk") <= K)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"), col("rnk"))
  }

  private val qe7Sql =
    s"""WITH e AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm,
       |         vec[1:$TRUNC_DIM] AS tvec,
       |         sqrt(list_dot_product(vec[1:$TRUNC_DIM], vec[1:$TRUNC_DIM])) AS tnrm
       |  FROM e),
       |coarse AS (
       |  SELECT * FROM (
       |    SELECT q.vec_id AS query_id, d.vec_id, d.vec, d.nrm, q.vec AS qvec, q.nrm AS qnrm,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |             CASE WHEN q.tnrm = 0 OR d.tnrm = 0 THEN 0.0
       |               ELSE round(list_dot_product(q.tvec, d.tvec) / (q.tnrm * d.tnrm), 6)
       |             END DESC,
       |             d.vec_id) AS crnk
       |    FROM n q, n d
       |    WHERE q.vec_id < $NQUERIES AND d.vec_id <> q.vec_id)
       |  WHERE crnk <= (SELECT greatest($RERANK, count(*) / 5) FROM e))
       |SELECT query_id, neighbor_id, cosine, rnk FROM (
       |  SELECT query_id, vec_id AS neighbor_id,
       |         round(list_dot_product(qvec, vec) / (qnrm * nrm), 6) AS cosine,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY
       |           round(list_dot_product(qvec, vec) / (qnrm * nrm), 6) DESC,
       |           vec_id) AS INT) AS rnk
       |  FROM coarse)
       |WHERE rnk <= $K""".stripMargin

  // ---------------------------------------------------------------- qe5
  /** IVF-style ANN: a k-means coarse quantizer partitions the corpus
    * into nlist inverted lists; queries probe the nprobe nearest
    * centroids and rank only those lists. The corpus-side assignment is
    * one fit + one map-only projection; the probe join is an equi-join
    * on centroid id — the standard big-corpus ANN shape (vs qe2's
    * sign-LSH).
    *
    * The quantizer is the DETERMINISTIC seeded-Lloyd fit
    * ([[kmeansCentroids]] — the qe9/gate machinery) instead of an ML
    * KMeans model. Same algorithm, two production wins: the index
    * build is bit-reproducible across runs/partitionings (an offline
    * artifact that re-builds identically is diffable and auditable),
    * and the whole fit+assign+probe path becomes SQL-expressible — so
    * qe5/qe5b graduate from recall-graded to FULL DuckDB hash-match
    * (the same move as the gated trio). Probe
    * distances use the identical rounded v·v − 2v·c + |c|² form as the
    * assignment so both engines rank cells on the same 6dp numbers.
    */
  private val IVF_NLIST = 16
  private val IVF_NPROBE = 4
  private val IvfFitIters = 3

  /** Fit the coarse quantizer and return (assignments, centroids). */
  private def ivfFit(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = embs(s, dir)
    val cents = kmeansCentroids(
      e.select("vec_id", "vec", "nrm"), IVF_NLIST, IvfFitIters)
    val assigned = e
      .withColumn("list_id", array_min(centroidCands(cents)).getField("cid"))
      .select("vec_id", "label", "vec", "nrm", "list_id")
    (assigned,
      s.createDataFrame(cents.toSeq.map { case (cid, c) => (cid, c) })
        .toDF("cent_id", "cent"))
  }

  /** Probe stage shared by qe5/qe5b: queries probe their nprobe nearest
    * centroids (6dp-rounded squared-L2 on the quantizer geometry — the
    * same algebraic form as the assignment, so the oracle ranks the
    * same numbers), then rank only those inverted lists via the
    * equi-join on list id.
    */
  private def ivfProbe(assigned: DataFrame, centDf: DataFrame,
      nprobe: Int = IVF_NPROBE): DataFrame = {
    val q = assigned.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    val probes = q.crossJoin(broadcast(centDf))
      .withColumn("d2", dround(dot(col("qvec"), col("qvec"))
        - lit(2.0) * dot(col("qvec"), col("cent"))
        + dot(col("cent"), col("cent")), 6))
      .withColumn("pr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("d2").asc, col("cent_id").asc)))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("qvec"), col("qnrm"), col("cent_id"))
    assigned.join(broadcast(probes),
      col("list_id") === col("cent_id") && col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dround(cosine(col("qvec"), col("vec"), col("qnrm"), col("nrm")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rnk") <= K)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"), col("rnk"))
  }

  def qe5(s: SparkSession, dir: String): DataFrame = {
    // Seed from the persisted quantizer when it is FRESH: the fused
    // KMeans fit exists for corpora with no offline index yet, and
    // re-fitting next to a current artifact is pure waste. Staleness
    // falls back to the fit — identical results either way: the
    // quantizer is seeded and deterministic, so index and fit produce
    // the same centroids.
    if (Ivf.fresh(s, dir)) qe5b(s, dir)
    else {
      val (assigned, centDf) = ivfFit(s, dir)
      ivfProbe(assigned, centDf)
    }
  }

  // --------------------------------------------------------------- qe5b
  /** IVF with a PERSISTED quantizer: at corpus scale the coarse
    * quantizer is an offline artifact, not a per-query fit. `ivfBuild`
    * writes centroids + corpus assignments as parquet once; the
    * probe-only path reads them back — so the per-query cost is two
    * parquet scans and the list equi-join, no ML fit. The index lands
    * under java.io.tmpdir keyed by the data dir (the engine must not
    * write into the read-only data roots).
    */
  def ivfIndexPath(dir: String): String =
    HadoopFs.indexPath("ivf", dir, IVF_NLIST, IvfFitIters, "lloyd6dp")

  def ivfBuild(s: SparkSession, dir: String, path: String): Unit = {
    val (assigned, centDf) = ivfFit(s, dir)
    centDf.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    // assignments, the witness, last
    assigned.write.mode("overwrite").parquet(s"$path/assignments")
  }

  val Ivf: PersistedIndex =
    PersistedIndex("ivf", "embeddings", "assignments", ivfIndexPath, ivfBuild)

  def qe5b(s: SparkSession, dir: String): DataFrame = {
    // the probe path never touches embs(), so the native functions the
    // cosine verify uses must be registered here explicitly — without
    // this, qe5/qe5b fail with UNRESOLVED_ROUTINE when they are the
    // session's first vector query
    registerNative(s)
    val path = Ivf.ensure(s, dir)
    ivfProbe(HadoopFs.parquet(s, s"$path/assignments"),
      HadoopFs.parquet(s, s"$path/centroids"))
  }

  // ---------------------------------------------------------------- qe8
  /** Duplicate-cluster assignment: label every vector with the minimum
    * vec_id of its connected component in the qe4 near-dup pair graph
    * (cosine ≥ 0.4) plus the component size — the transitive-closure
    * step between pair generation and keep-one-per-cluster that qe4's
    * pairwise `keep` flag cannot express (A~B, B~C, A≁C keeps both A
    * and C; cluster dedup keeps only A). Components via
    * [[graft.operators.ConnectedComponents]], which auto-dispatches on
    * edge count: this corpus' pair graph collapses to a driver-side
    * union-find (one collect of the deduplicated edges), while a
    * corpus-scale dup graph takes the alternating large-star/small-star
    * rounds (O(log n) shuffles — survives the chain-shaped dup graphs
    * that make label propagation O(diameter)). The pair source here is
    * the exact all-pairs join so the DuckDB recursive-CTE oracle
    * replicates the edge set bit-for-bit; at corpus scale it swaps to
    * qe4b's banded-LSH candidates — the clustering stage only ever sees
    * the edge list, so the swap is one line.
    */
  def qe8(s: SparkSession, dir: String): DataFrame = {
    val t = 0.4
    val e = embs(s, dir)
    val a = e.select(col("vec_id").as("ida"), col("vec").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("idb"), col("vec").as("vb"), col("nrm").as("nb"))
    // ida < idb: each undirected pair scored once; CC symmetrizes inside
    val pairs = a.join(b, col("ida") < col("idb"))
      .filter(dround(cosine(col("va"), col("vb"), col("na"), col("nb")), 6) >= t)
      .select(col("ida"), col("idb"))
    graft.operators.ConnectedComponents.clusters(pairs, e.select(col("vec_id")))
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .select(col("id").as("vec_id"), col("cluster_id"), col("cluster_size"))
  }

  /** Recursive-CTE connected components over the exact near-dup pair
    * graph, shared by the qe8 and qe11 oracles; ends at `cl` =
    * (vec_id, cluster_id).
    */
  private val ccCtes =
    """WITH RECURSIVE e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings),
      |n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM e),
      |pairs AS (
      |  SELECT a.vec_id AS u, b.vec_id AS v
      |  FROM n a, n b
      |  WHERE a.vec_id <> b.vec_id
      |    AND round(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6) >= 0.40),
      |reach(u, v) AS (
      |  SELECT vec_id, vec_id FROM e
      |  UNION
      |  SELECT r.u, p.v FROM reach r JOIN pairs p ON r.v = p.u),
      |cl AS (SELECT u AS vec_id, min(v) AS cluster_id FROM reach GROUP BY u)""".stripMargin

  private val qe8Sql =
    s"""$ccCtes
       |SELECT vec_id, cluster_id,
       |       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
       |FROM cl""".stripMargin

  // ---------------------------------------------------------------- qe9
  /** Topic-cluster assignment: one seeded Lloyd iteration of k-means
    * over the corpus — the partitioning primitive semantic pipelines
    * run before per-cluster work (SemDeDup clusters FIRST, then probes
    * near-dups only within clusters; mixture balancing samples per
    * topic). qe5's IVF quantizer is the persisted many-iteration
    * sibling tuned for ANN routing; this operator exposes the
    * assignment itself, exact enough to ORACLE: seeds are the K
    * smallest vec_ids, every argmin input (squared-L2 distances AND the
    * re-fit centroid components) is rounded to 6dp first so
    * FP summation order can't flip a verdict, and distance ties break
    * to the smaller centroid id — a total order on both engines.
    *
    * Scale shape: centroids are a K-row broadcast at BOTH steps, so the
    * corpus never shuffles whole vectors; each Lloyd iteration is one
    * scan + a (K×dim)-cell partial aggregation (posexplode → avg is
    * map-side combinable, K×dim cells regardless of corpus size). More
    * iterations = more scans of the same shape, no new shuffle class.
    */
  /** The seeded two-step Lloyd assignment shared by qe9 (sizes) and
    * qe10 (within-cluster dedup): (vec_id, vec, nrm, cid).
    */
  private def kmeansAssign(s: SparkSession, dir: String): DataFrame =
    kmeansAssignFrom(embs(s, dir).select("vec_id", "vec", "nrm"), 8)

  /** The per-row array of (rounded squared-L2 distance, cid) structs
    * against the K driver-side centroids: the one expression every
    * k-means consumer shares. Lexicographic struct order =
    * (distance, cid), so `array_min` is the argmin with the
    * smaller-centroid-id tiebreak inside the expression, and
    * `array_sort` is the distance-ranked probe list of the ANN gate
    * ([[GateRule]]). Rounding BEFORE the
    * ordering keeps both engines' FP summation orders from flipping
    * near-ties.
    *
    * Dispatches to the native loop expression
    * ([[graft.functions.expr.CentroidDistances]]) — the literal
    * `array(struct(...))` unroll stops whole-stage-compiling near K ≈ 100
    * (janino 64 KB method limit, hit by a 10×-corpus gate build at K =
    * 142: BENCH_NOTES.md, "r12 10x headroom smoke") and K = ⌈√n⌉ sizing
    * needs arbitrary K. Bit-parity with the literal form (kept below for
    * the pinned property) is guaranteed by identical operation order and
    * the droundD≡dround property.
    */
  private[queries] def centroidCands(cents: Array[(Int, Seq[Double])]): Column =
    centroidDists(col("vec"), cents)

  /** The literal unroll — parity oracle for the native
    * expression (GraftProperties), never on a query path.
    */
  private[graft] def centroidCandsLit(cents: Array[(Int, Seq[Double])]): Column =
    array(cents.map { case (cid, c) =>
      struct(
        dround(dot(col("vec"), col("vec"))
          - lit(2.0) * dot(col("vec"), typedLit(c))
          + lit(c.map(x => x * x).sum), 6).as("d"),
        lit(cid).as("cid"))
    }: _*)

  /** Seeded-then-Lloyd-refit centroids, collected to the driver (K×dim
    * doubles — the same scalar-frame class as the KPI collects and what
    * qe5's ML model object holds internally). Seeds are the k smallest
    * vec_ids PRESENT in `e` (so a strided fit sample seeds from itself),
    * relabeled 0..k-1 in id order — identical to the old `vec_id < k`
    * rule on the contiguous-id corpora the oracle replicates, but also
    * correct for non-contiguous samples and ids past Int range. Each of
    * the `iters` refits is a per-(cluster, dim) mean via posexplode
    * feeding a partial-aggregable groupBy whose reduced size is K×dim
    * cells regardless of corpus size — more iterations are more scans
    * of the same shape, never a new shuffle class. A cell that empties
    * during iteration drops out (k can only shrink, never invent).
    */
  private def kmeansCentroids(
      e: DataFrame, k: Int, iters: Int = 1): Array[(Int, Seq[Double])] = {
    var cents: Array[(Int, Seq[Double])] = e
      .select(col("vec_id").cast("long"), col("vec"))
      .orderBy(col("vec_id").asc).limit(k).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
      .zipWithIndex.map { case ((_, v), i) => (i, v) }
    for (_ <- 1 to iters) {
      cents = e.withColumn("cid", array_min(centroidCands(cents)).getField("cid"))
        .select(col("cid"), posexplode(col("vec")))
        .groupBy(col("cid"), col("pos"))
        .agg(dround(avg(col("col")), 6).as("m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
        .select(col("cid"), transform(col("ps"), p => p.getField("m")).as("cvec"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    }
    cents
  }

  /** Frame-parameterized twin (tests plant duplicates): `e` carries
    * (vec_id, vec, nrm); seeds are the k smallest vec_ids.
    * Assignment is MAP-ONLY: one array_min over K distance structs per
    * row — no join, no shuffle of corpus vectors, ever; squared L2 via
    * dots with the |c|² term a driver-side scalar.
    */
  private[graft] def kmeansAssignFrom(e: DataFrame, k: Int): DataFrame =
    e.withColumn("cid",
      array_min(centroidCands(kmeansCentroids(e, k))).getField("cid"))

  def qe9(s: SparkSession, dir: String): DataFrame = {
    // cluster sizes via a K-row broadcast join back onto the map-only
    // assignment — NOT a window partitioned by cid, which would funnel
    // the whole corpus through K reducer tasks
    val a2 = kmeansAssign(s, dir).select(col("vec_id"), col("cid"))
    val sizes = a2.groupBy("cid").agg(count(lit(1)).as("cluster_size"))
    a2.join(broadcast(sizes), Seq("cid"))
      .select(col("vec_id"), col("cid").as("cluster_id"), col("cluster_size"))
  }

  /** CTE chain replicating [[kmeansAssign]] bit-for-bit, shared by the
    * qe9 and qe10 oracles; ends at `asg` = (vec_id, cid, vec).
    */
  private val kmeansCtes =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings),
      |seeds AS (
      |  SELECT CAST(vec_id AS INT) AS cid, vec AS cvec FROM e WHERE vec_id < 8),
      |a1 AS (
      |  SELECT vec_id, cid, vec, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY round(list_dot_product(vec, vec)
      |        - 2 * list_dot_product(vec, cvec)
      |        + list_dot_product(cvec, cvec), 6) ASC, cid ASC) AS rk
      |  FROM e, seeds),
      |comp AS (
      |  SELECT cid, unnest(range(1, len(vec) + 1)) AS i, unnest(vec) AS x
      |  FROM a1 WHERE rk = 1),
      |cent AS (
      |  SELECT cid, list(m ORDER BY i) AS cvec
      |  FROM (SELECT cid, i, round(avg(x), 6) AS m FROM comp GROUP BY cid, i)
      |  GROUP BY cid),
      |a2 AS (
      |  SELECT vec_id, cid, vec, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY round(list_dot_product(vec, vec)
      |        - 2 * list_dot_product(vec, cvec)
      |        + list_dot_product(cvec, cvec), 6) ASC, cid ASC) AS rk
      |  FROM e, cent),
      |asg AS (SELECT vec_id, cid, vec FROM a2 WHERE rk = 1)""".stripMargin

  private val qe9Sql =
    s"""$kmeansCtes
       |SELECT vec_id, cid AS cluster_id,
       |       count(*) OVER (PARTITION BY cid) AS cluster_size
       |FROM asg""".stripMargin

  // --------------------------------------------------------------- qe10
  /** Semantic dedup, SemDeDup-shaped (Abbas et al. 2023, arXiv
    * 2303.09540): cluster FIRST with the seeded k-means of qe9, then
    * score pairs ONLY within a cluster — qe4's aggregation (n_near /
    * max_cos / keep-first) applied to a candidate set that an equi-join
    * on cluster id generates. This is the third candidate-generation
    * strategy next to qe4's all-pairs and qe4b's LSH bands, and the one
    * semantic pipelines actually run at corpus scale: Σ n_c² work
    * instead of n², with the clustering amortized across every
    * per-cluster stage downstream. Because the qe9 assignment is
    * deterministic and oracle-exact, the WHOLE operator stays
    * hash-matched against DuckDB — no recall floor needed (the price:
    * cross-cluster near-dups are out of scope by definition; that
    * boundary loss is the documented SemDeDup trade).
    *
    * Scale shape: one shuffle of (vec, cid) on the cluster key, pairs
    * expand inside each partition, and the aggregation is partial
    * (map-side combinable) on ida. A skewed giant cluster re-introduces
    * the n_c² wall — production caps per-cluster candidates by raising
    * K (finer clusters) or salting the in-cluster join on a secondary
    * LSH band (qe4b inside qe10), both of which keep the equi-join
    * class unchanged.
    */
  def qe10(s: SparkSession, dir: String): DataFrame =
    withinClusterDedup(kmeansAssign(s, dir), 0.4)

  /** Frame-parameterized twin for planted-duplicate tests: cluster
    * `corpus` (vec_id, vec, nrm) into k cells, dedup within cells.
    */
  private[graft] def semanticDedupFrom(corpus: DataFrame, t: Double, k: Int): DataFrame =
    withinClusterDedup(kmeansAssignFrom(corpus, k), t)

  private def withinClusterDedup(asg: DataFrame, t: Double): DataFrame = {
    val a = asg.select(col("cid"), col("vec_id").as("ida"),
      col("vec").as("va"), col("nrm").as("na"))
    val b = asg.select(col("cid"), col("vec_id").as("idb"),
      col("vec").as("vb"), col("nrm").as("nb"))
    val near = a.join(b, Seq("cid"))
      .filter(col("ida") =!= col("idb"))
      .withColumn("cos", dround(cosine(col("va"), col("vb"), col("na"), col("nb")), 6))
      .filter(col("cos") >= t)
      .groupBy(col("ida"))
      .agg(
        count(lit(1)).as("n_near"),
        max(col("cos")).as("max_cos"),
        max(when(col("idb") < col("ida"), 1).otherwise(0)).as("_smaller"))
    asg.select(col("vec_id"), col("cid"))
      .join(near, col("vec_id") === col("ida"), "left")
      .select(
        col("vec_id"),
        col("cid").as("cluster_id"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("max_cos"),
        coalesce(col("_smaller") === 0, lit(true)).as("keep"))
  }

  private val qe10Sql =
    s"""$kmeansCtes,
       |n AS (
       |  SELECT vec_id, cid, vec, sqrt(list_dot_product(vec, vec)) AS nrm
       |  FROM asg),
       |near AS (
       |  SELECT a.vec_id AS ida, count(*) AS n_near,
       |         max(round(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6)) AS max_cos,
       |         max(CASE WHEN b.vec_id < a.vec_id THEN 1 ELSE 0 END) AS smaller
       |  FROM n a JOIN n b ON a.cid = b.cid AND a.vec_id <> b.vec_id
       |  WHERE round(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6) >= 0.4
       |  GROUP BY a.vec_id)
       |SELECT n.vec_id, n.cid AS cluster_id,
       |  CAST(coalesce(near.n_near, 0) AS BIGINT) AS n_near,
       |  near.max_cos,
       |  coalesce(near.smaller = 0, true) AS keep
       |FROM n LEFT JOIN near ON n.vec_id = near.ida""".stripMargin

  // --------------------------------------------------------------- qe11
  /** Leakage-safe train/val/test split: the split is decided by the
    * md5-bucket of the near-dup CLUSTER id (qe8's connected
    * components), not the row id — so the two halves of any
    * near-duplicate pair, and the whole transitive cluster around
    * them, land in the SAME split by construction. Splitting by row
    * hash (qd11's shape) leaks: a train/test near-dup pair inflates
    * eval scores, the documented failure mode whole-corpus dedup
    * exists to prevent (the train-test overlap analyses in the GPT-3
    * and Lee et al. 2021 appendices). Cost on top of the cluster
    * labels is a pure map-side projection — the same md5-bucket
    * arithmetic as qd11, applied to cluster_id, 80/10/10.
    */
  def qe11(s: SparkSession, dir: String): DataFrame = {
    val b = graft.operators.Sampling.hashBucket(col("cluster_id"), 100)
    qe8(s, dir)
      .withColumn("split",
        when(b < 80, "train").when(b < 90, "val").otherwise("test"))
      .select(col("vec_id"), col("cluster_id"), col("split"))
  }

  private val qe11Sql =
    s"""$ccCtes
       |SELECT vec_id, cluster_id,
       |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT vec_id, cluster_id,
       |    CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |      % 100 AS b
       |  FROM cl)""".stripMargin

  // --------------------------------------------------------------- qe12
  /** MMR — maximal-marginal-relevance diversified top-k retrieval
    * (Carbonell & Goldstein 1998), the de-duplicating retrieval shape
    * RAG pipelines run so the k context passages aren't five copies of
    * the same paragraph: greedily pick argmax of
    * λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s) over a bounded relevance
    * pool (top-[[MmrPool]] by cosine — at corpus scale the pool comes
    * from the ANN stage, so MMR's cost is pool-sized, not corpus-sized).
    *
    * Greedy selection is inherently sequential, but k is small and
    * fixed: each round is one broadcast join + per-query argmax over
    * the pool frame (localCheckpoint per round keeps the k-round
    * lineage flat). Every cosine and every MMR score is 6dp-rounded
    * with id tiebreaks BEFORE each argmax — the qe9 determinism
    * discipline — which lets the whole greedy recursion hash-match a
    * DuckDB oracle built by unrolling the k rounds into generated CTE
    * stages.
    */
  private val MmrPool = 50
  private val MmrK = 5
  private val MmrMu = 0.3 // (1−λ) as an exact literal: 1−0.7 in IEEE is not 0.3

  private[graft] def mmrSelect(s: SparkSession, dir: String,
      lambda: Double, mu: Double): DataFrame = {
    val e = embs(s, dir)
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    var cands = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("rel", dround(cosine(col("qvec"), col("vec"), col("qnrm"), col("nrm")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("rel").desc, col("vec_id").asc)))
      .filter(col("rnk") <= MmrPool)
      .select(col("query_id"), col("vec_id").as("cand_id"),
        col("vec"), col("nrm"), col("rel"))
      // null, NOT 0.0: cosines go negative, and greatest(0.0, cos)
      // would clamp a diversity BONUS (an anti-similar candidate) to
      // zero — Spark's greatest skips nulls, so the first real
      // similarity lands intact; round 1 coalesces to 0 like the oracle
      .withColumn("max_sim", lit(null).cast("double"))
      .localCheckpoint()
    var out: DataFrame = null
    for (round <- 1 to MmrK) {
      val mmr = dround(lit(lambda) * col("rel")
        - lit(mu) * coalesce(col("max_sim"), lit(0.0)), 6)
      val picked = cands.withColumn("mmr_score", mmr)
        .withColumn("pr", row_number().over(
          Window.partitionBy("query_id").orderBy(col("mmr_score").desc, col("cand_id").asc)))
        .filter(col("pr") === 1)
        .withColumn("pick_rank", lit(round))
        .select("query_id", "cand_id", "vec", "nrm", "rel", "mmr_score", "pick_rank")
        .localCheckpoint()
      out = if (out == null) picked else out.unionByName(picked)
      val sel = broadcast(picked.select(col("query_id"),
        col("cand_id").as("sel_id"), col("vec").as("svec"), col("nrm").as("snrm")))
      cands = cands.join(sel, Seq("query_id"))
        .filter(col("cand_id") =!= col("sel_id"))
        .withColumn("max_sim", greatest(col("max_sim"),
          dround(cosine(col("vec"), col("svec"), col("nrm"), col("snrm")), 6)))
        .drop("sel_id", "svec", "snrm")
        .localCheckpoint()
    }
    out.select(col("query_id"), col("pick_rank"),
      col("cand_id").as("neighbor_id"), col("rel"), col("mmr_score"))
  }

  def qe12(s: SparkSession, dir: String): DataFrame =
    mmrSelect(s, dir, 0.7, MmrMu)

  /** The greedy recursion unrolled: stage j's candidates are the pool
    * minus seen(j−1), each carrying max cosine to the selected set,
    * argmax per query — identical 6dp-round-then-tiebreak arithmetic
    * to the Spark rounds.
    */
  private val qe12Sql: String = {
    def cos(a: String, b: String) =
      s"round(list_dot_product($a.vec, $b.vec) / ($a.nrm * $b.nrm), 6)"
    val head =
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
         |  FROM embeddings),
         |n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM e),
         |pool AS (
         |  SELECT query_id, cand_id, vec, nrm, rel FROM (
         |    SELECT *, row_number() OVER (
         |        PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rnk
         |    FROM (SELECT q.vec_id AS query_id, d.vec_id AS cand_id,
         |                 d.vec AS vec, d.nrm AS nrm, ${cos("q", "d")} AS rel
         |          FROM n q, n d
         |          WHERE q.vec_id < $NQUERIES AND d.vec_id <> q.vec_id))
         |  WHERE rnk <= $MmrPool),
         |sel1 AS (
         |  SELECT query_id, cand_id, vec, nrm, rel,
         |         round(0.7 * rel - $MmrMu * 0.0, 6) AS mmr_score,
         |         CAST(1 AS INT) AS pick_rank
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY round(0.7 * rel - $MmrMu * 0.0, 6) DESC, cand_id) AS pr
         |        FROM pool)
         |  WHERE pr = 1),
         |seen1 AS (SELECT query_id, cand_id, vec, nrm FROM sel1)""".stripMargin
    val stages = (2 to MmrK).map { j =>
      val prev = j - 1
      s""",
         |ms$j AS (
         |  SELECT p.query_id, p.cand_id, p.vec, p.nrm, p.rel,
         |         max(${cos("p", "s")}) AS max_sim
         |  FROM pool p JOIN seen$prev s ON p.query_id = s.query_id
         |  WHERE NOT EXISTS (SELECT 1 FROM seen$prev x
         |                    WHERE x.query_id = p.query_id AND x.cand_id = p.cand_id)
         |  GROUP BY p.query_id, p.cand_id, p.vec, p.nrm, p.rel),
         |sel$j AS (
         |  SELECT query_id, cand_id, vec, nrm, rel,
         |         round(0.7 * rel - $MmrMu * max_sim, 6) AS mmr_score,
         |         CAST($j AS INT) AS pick_rank
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY round(0.7 * rel - $MmrMu * max_sim, 6) DESC, cand_id) AS pr
         |        FROM ms$j)
         |  WHERE pr = 1),
         |seen$j AS (SELECT query_id, cand_id, vec, nrm FROM seen$prev
         |           UNION ALL SELECT query_id, cand_id, vec, nrm FROM sel$j)""".stripMargin
    }.mkString
    val unions = (1 to MmrK).map(j => s"SELECT * FROM sel$j").mkString(" UNION ALL ")
    s"""$head$stages
       |SELECT query_id, pick_rank, cand_id AS neighbor_id, rel, mmr_score
       |FROM ($unions)""".stripMargin
  }

  // --------------------------------------------------------------- qe13
  /** Contrastive hard-negative mining: for each anchor vector, the K
    * nearest corpus vectors carrying a DIFFERENT label — the "hard"
    * negatives a contrastive/embedding trainer pairs with each anchor
    * (high similarity, wrong class; cf. dense-retrieval trainers like
    * DPR, which mine exactly this set from an index).
    *
    * Shape: anchors are a ~1% slice (`vec_id % 100 == 0`) broadcast
    * against one corpus scan; ranking is a per-anchor window — the qe1
    * discipline (6dp-rounded cosine BEFORE the rank, vec_id tiebreak)
    * makes the top-K a total order on both engines, so this is
    * exact-oracle-checked. At 100 TB the candidate pool per anchor comes
    * from the ANN stage (qe2/qe5) filtered to `label <> anchor_label`
    * instead of the full scan; the mining window itself is unchanged.
    */
  private val HardNegK = 5

  def qe13(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val a = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
        col("vec").as("avec"), col("nrm").as("anrm"))
    e.join(broadcast(a), col("label") =!= col("anchor_label"))
      .withColumn("cosine", dround(cosine(col("avec"), col("vec"), col("anrm"), col("nrm")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("anchor_id").orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rnk") <= HardNegK)
      .select(col("anchor_id"), col("anchor_label"),
        col("vec_id").as("negative_id"), col("label").as("negative_label"),
        col("cosine"), col("rnk"))
  }

  private val qe13Sql =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |n AS (SELECT vec_id, label, vec,
       |             sqrt(list_dot_product(vec, vec)) AS nrm FROM e),
       |p AS (
       |  SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
       |         d.vec_id AS negative_id, d.label AS negative_label,
       |         round(list_dot_product(a.vec, d.vec) / (a.nrm * d.nrm), 6) AS cosine
       |  FROM n a, n d
       |  WHERE a.vec_id % 100 = 0 AND d.label <> a.label)
       |SELECT anchor_id, anchor_label, negative_id, negative_label, cosine, rnk
       |FROM (
       |  SELECT *, CAST(row_number() OVER (
       |      PARTITION BY anchor_id ORDER BY cosine DESC, negative_id) AS INT) AS rnk
       |  FROM p)
       |WHERE rnk <= $HardNegK""".stripMargin

  // --------------------------------------------------------------- qe14
  /** Product-quantization ANN (Jégou et al., TPAMI 2011): vectors are
    * L2-normalized, split into [[PqM]] subvectors, and each subspace gets
    * its own [[PqKs]]-centroid k-means codebook — a vector compresses to
    * M 4-bit codes (32 bits total vs 64 float32 dims = 256× smaller).
    * Query scoring is asymmetric distance computation (ADC): one
    * M×K' lookup table of ⟨q_sub, centroid⟩ dot products per query, and
    * each corpus vector's approximate cosine is M table lookups summed —
    * the full corpus scan touches only 32-bit codes. The top-[[PqShort]]
    * ADC candidates then get a full-precision cosine rerank (the IVF-PQ
    * refine step): float vectors are read for PqShort rows per query,
    * not the corpus.
    *
    * Shape at 100 TB: the codebooks fit on a sample and are driver-tiny
    * (M·K'·subdim doubles); codes are the persisted index (the qe5b
    * lifecycle); the per-query LUT is broadcast and the scoring scan is
    * MAP-ONLY over the codes table — the window top-k is the only
    * exchange, same as qe1. Encoding here uses an explode + per-(vec,sub)
    * argmin window; production encoders do the argmin row-locally (the
    * codebook is a constant), making the index build map-only too.
    *
    * No SQL oracle (k-means + codes are engine-side): recall@K vs the
    * exact qe1 twin is floored in RecallSpec → RECALL.json.
    */
  private val PqM = 8
  private val PqKs = 16
  private val PqSubDim = 8 // 64 / PqM
  private val PqShort = 50 // ADC shortlist size fed to the exact rerank

  private val PqIters = 4

  /** Lloyd fit + map-only encode; returns (codebook, codes frame).
    *
    * The codebook lives on the DRIVER (M·K'·subdim = 1024 doubles —
    * the qe9 scalar-frame class) and rides into the plan as the
    * referenced constant of the native `PqEncode` loop expression: the
    * per-row assignment of all M codes is ONE map-only codegen'd
    * projection, so each Lloyd round is that pass + a
    * (sub, code, dim)-cell aggregation whose reduced size is
    * M·K'·subdim regardless of corpus size. No join, no window, no
    * shuffle of subvectors — the 100 TB fit shape (on a sample) and
    * the exact encode shape. (First cut unrolled the argmin into
    * M·K' literal structs: janino's 64 KB method limit broke codegen
    * and the interpreted fallback was slower than the join form —
    * see PqEncode's scaladoc.)
    */
  private def pqFit(s: SparkSession, dir: String)
      : (Array[Array[Seq[Double]]], DataFrame) = {
    val e = embs(s, dir)
      .withColumn("uvec", transform(col("vec"), x => x / col("nrm")))
      .localCheckpoint() // reused: seed collect + every Lloyd round + encode
    // deterministic init: the first K' vectors seed every subspace
    var cb: Array[Array[Seq[Double]]] = {
      val seeds = e.filter(col("vec_id") < PqKs)
        .select(col("vec_id").cast("int"), col("uvec")).collect()
        .sortBy(_.getInt(0))
        .map(_.getSeq[Double](1))
      Array.tabulate(PqM)(sub =>
        seeds.map(v => v.slice(sub * PqSubDim, sub * PqSubDim + PqSubDim)))
    }
    for (_ <- 1 to PqIters) {
      val means = e.withColumn("codes", pqEnc(cb))
        .select(col("uvec"), posexplode(col("codes")).as(Seq("sub", "code")))
        .select(col("sub"), col("code"), posexplode(
          slice(col("uvec"), col("sub") * PqSubDim + 1, lit(PqSubDim)))
          .as(Seq("dim", "x")))
        // 6dp-rounded means (the kmeansCentroids discipline): the
        // fit is reproducible across partitionings AND engines, which
        // is what lets qe14/qe14b/qe20 carry full DuckDB oracles — an
        // unrounded mean drifts with aggregation order and every
        // downstream argmin would inherit the drift
        .groupBy("sub", "code", "dim").agg(dround(avg(col("x")), 6).as("m"))
        .groupBy("sub", "code")
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("ps"))
        .select(col("sub"), col("code"),
          transform(col("ps"), p => p.getField("m")).as("cent"))
        .collect()
      val next = cb.map(_.clone) // empty cluster → keeps its old centroid
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2))
      cb = next
    }
    // encode: all M codes in ONE map-only projection per vector (the
    // codebook is a constant — production encoders look like this)
    (cb, e.select(col("vec_id"), pqEnc(cb).as("codes")))
  }

  private def pqEnc(cb: Array[Array[Seq[Double]]]): Column =
    pqEncode(col("uvec"), cb.flatMap(_.flatMap(_.toArray)), PqM, PqKs)

  /** The fitted codebook alone — for the partitioning-invariance spec
    * (the property the qe14/qe20 oracles lean on: 6dp-rounded means
    * make the codebook a set function of the corpus).
    */
  private[graft] def pqFitCodebook(s: SparkSession,
      dir: String): Array[Array[Seq[Double]]] = pqFit(s, dir)._1

  /** ADC shortlist + full-precision rerank over a codes frame and a
    * driver-resident codebook — shared by the fused (qe14),
    * persisted-index (qe14b), and IVF-gated (qe20) paths. With `gate`
    * set to the (query_id, cent_id) probe table, `codes` must carry a
    * `list_id` column (the merged IVF-PQ layout) and only codes whose
    * inverted list a query probes are ADC-scored for that query.
    */
  private def pqProbe(s: SparkSession, dir: String,
      cb: Array[Array[Seq[Double]]], codes: DataFrame,
      gate: Option[DataFrame] = None,
      shortN: Int = PqShort): DataFrame = {
    import s.implicits._
    val e = embs(s, dir)
    // per-query ADC lookup tables, computed driver-side from the
    // collected query vectors (NQUERIES×dim — scalar-frame class)
    val lutQ = broadcast(e.filter(col("vec_id") < NQUERIES)
      .withColumn("uvec", transform(col("vec"), x => x / col("nrm")))
      .select(col("vec_id"), col("uvec")).collect()
      .map { r =>
        val qv = r.getSeq[Double](1)
        val lut: Seq[Seq[Double]] = (0 until PqM).map { sub =>
          val qs = qv.slice(sub * PqSubDim, sub * PqSubDim + PqSubDim)
          (0 until PqKs).map(c =>
            qs.zip(cb(sub)(c)).map { case (a, b) => a * b }.sum): Seq[Double]
        }
        (r.getLong(0), lut)
      }.toSeq.toDF("query_id", "lut"))
    val cand = gate match {
      case None => codes.join(lutQ, col("vec_id") =!= col("query_id"))
      case Some(probes) =>
        // codes carry their list_id (the merged IVF-PQ layout): the
        // gate is a broadcast semi-ish join — the codes scan never
        // shuffles, rows outside probed lists drop at the scan
        codes.join(broadcast(probes), col("list_id") === col("cent_id"))
          .join(lutQ, Seq("query_id"))
          .filter(col("vec_id") =!= col("query_id"))
    }
    val shortlist = cand
      .withColumn("approx_cosine", dround(
        aggregate(sequence(lit(0), lit(PqM - 1)), lit(0.0),
          (acc, i) => acc + element_at(element_at(col("lut"), i + 1),
            element_at(col("codes"), i + 1) + 1)), 6))
      .withColumn("arnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("approx_cosine").desc, col("vec_id").asc)))
      .filter(col("arnk") <= shortN)
      .select("query_id", "vec_id")
    // full-precision rerank of the ADC shortlist (the IVF-PQ refine
    // step): only PqShort float vectors per query are touched
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    shortlist
      .join(e.select("vec_id", "vec", "nrm"), Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine", dround(cosine(col("qvec"), col("vec"), col("qnrm"), col("nrm")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rnk") <= K)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"), col("rnk"))
  }

  def qe14(s: SparkSession, dir: String): DataFrame = {
    // re-fitting next to a current offline artifact is pure waste
    if (Pq.fresh(s, dir)) qe14b(s, dir)
    else {
      val (cb, codes) = pqFit(s, dir)
      pqProbe(s, dir, cb, codes)
    }
  }

  /** PQ Lloyd-chain CTEs: [[pqFit]]+[[pqEnc]] in SQL — the 6dp-rounded
    * means make the codebooks engine-identical, every other number in the
    * chain (uvec = x/nrm, per-subspace Σdiff² argmin with the code-asc
    * first-win tiebreak, ADC dot tables) is deterministic binary64
    * arithmetic in the SAME evaluation order on both engines (list_reduce
    * left-folds exactly like the engine loops), so the SQL replicates the
    * fit bit-for-bit. Prototyped against an imperative reference model
    * before wiring (BENCH_NOTES.md). Requires CTEs `e`/`n` upstream; ends
    * at `cl` (per-vector code lists) and `lutl` (per-query ADC tables).
    */
  private lazy val pqChainCtes: String = {
    def d2sub(u: String, cb: String) =
      s"""list_reduce(list_transform(range(1, ${PqSubDim + 1}),
         |               j -> ($u.uvec[$cb.sub*$PqSubDim+j] - $cb.cent[j])
         |                  * ($u.uvec[$cb.sub*$PqSubDim+j] - $cb.cent[j])),
         |             (a,b) -> a+b)""".stripMargin
    val subsVals = (0 until PqM).map(s => s"($s)").mkString(", ")
    val head =
      s"""u AS (SELECT vec_id, list_transform(vec, x -> x / nrm) AS uvec FROM n),
         |subs(sub) AS (VALUES $subsVals),
         |pcb0 AS (
         |  SELECT sub, CAST(vec_id AS INT) AS code,
         |         uvec[(sub*$PqSubDim+1):(sub*$PqSubDim+$PqSubDim)] AS cent
         |  FROM u, subs WHERE vec_id < $PqKs)""".stripMargin
    val iters = (1 to PqIters).map { i =>
      s"""pa$i AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT u.vec_id, cb.sub, cb.code,
         |           row_number() OVER (PARTITION BY u.vec_id, cb.sub
         |             ORDER BY ${d2sub("u", "cb")} ASC, cb.code ASC) AS rk
         |    FROM u, pcb${i - 1} cb) WHERE rk = 1),
         |pm$i AS (
         |  SELECT sub, code, list(m ORDER BY j) AS cent FROM (
         |    SELECT a.sub, a.code, js.j,
         |           round(avg(u.uvec[a.sub*$PqSubDim+js.j]), 6) AS m
         |    FROM pa$i a JOIN u ON u.vec_id = a.vec_id
         |    CROSS JOIN (SELECT unnest(range(1, ${PqSubDim + 1})) AS j) js
         |    GROUP BY a.sub, a.code, js.j)
         |  GROUP BY sub, code),
         |pcb$i AS (SELECT o.sub, o.code, coalesce(m.cent, o.cent) AS cent
         |          FROM pcb${i - 1} o LEFT JOIN pm$i m USING (sub, code))""".stripMargin
    }
    val tail =
      s"""paf AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT u.vec_id, cb.sub, cb.code,
         |           row_number() OVER (PARTITION BY u.vec_id, cb.sub
         |             ORDER BY ${d2sub("u", "cb")} ASC, cb.code ASC) AS rk
         |    FROM u, pcb$PqIters cb) WHERE rk = 1),
         |cl AS (SELECT vec_id, list(code ORDER BY sub) AS codes FROM paf GROUP BY vec_id),
         |lut AS (
         |  SELECT u.vec_id AS query_id, cb.sub, cb.code,
         |         list_reduce(list_transform(range(1, ${PqSubDim + 1}),
         |           j -> u.uvec[cb.sub*$PqSubDim+j] * cb.cent[j]), (a,b) -> a+b) AS v
         |  FROM u, pcb$PqIters cb WHERE u.vec_id < $NQUERIES),
         |lutl AS (
         |  SELECT query_id, list(lv ORDER BY sub) AS lut FROM (
         |    SELECT query_id, sub, list(v ORDER BY code) AS lv
         |    FROM lut GROUP BY query_id, sub)
         |  GROUP BY query_id)""".stripMargin
    (head +: iters :+ tail).mkString(",\n")
  }

  /** Shared rerank tail: exact 6dp cosine top-[[K]] over a `short`
    * CTE of (query_id, vec_id).
    */
  private lazy val pqRerankSql =
    s"""SELECT query_id, neighbor_id, cosine, rnk FROM (
       |  SELECT s.query_id, s.vec_id AS neighbor_id,
       |         round(list_dot_product(q.vec, d.vec) / (q.nrm * d.nrm), 6) AS cosine,
       |         CAST(row_number() OVER (PARTITION BY s.query_id ORDER BY
       |           round(list_dot_product(q.vec, d.vec) / (q.nrm * d.nrm), 6) DESC,
       |           s.vec_id) AS INT) AS rnk
       |  FROM short s
       |  JOIN n q ON q.vec_id = s.query_id
       |  JOIN n d ON d.vec_id = s.vec_id)
       |WHERE rnk <= $K""".stripMargin

  /** qe14/qe14b oracle: the PQ chain, full-corpus ADC shortlist
    * ([[PqShort]]), exact rerank.
    */
  private lazy val qe14Sql =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM e),
       |$pqChainCtes,
       |approx AS (
       |  SELECT l.query_id, c.vec_id,
       |         round(list_reduce(list_transform(range(1, ${PqM + 1}),
       |           s -> l.lut[s][c.codes[s] + 1]), (a,b) -> a+b), 6) AS ac
       |  FROM lutl l, cl c WHERE c.vec_id <> l.query_id),
       |short AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY ac DESC, vec_id) AS arnk
       |    FROM approx)
       |  WHERE arnk <= $PqShort)
       |$pqRerankSql""".stripMargin

  /** qe20 oracle: the IVF Lloyd chain gates which vectors each query
    * ADC-scores (home list ∈ probed cells), shortlist 2·[[PqShort]],
    * exact rerank — the full IVFADC composition in SQL.
    */
  private lazy val qe20Sql = {
    val fit = lloydCtes(s"SELECT $IVF_NLIST AS k", IvfFitIters)
    s"""$fit,
       |$pqChainCtes,
       |home AS (SELECT vec_id, cid FROM af WHERE rk = 1),
       |qprobe AS (SELECT vec_id AS query_id, cid FROM af
       |           WHERE vec_id < $NQUERIES AND rk <= $IVF_NPROBE),
       |approx AS (
       |  SELECT l.query_id, h.vec_id,
       |         round(list_reduce(list_transform(range(1, ${PqM + 1}),
       |           s -> l.lut[s][c.codes[s] + 1]), (a,b) -> a+b), 6) AS ac
       |  FROM lutl l
       |  JOIN qprobe p ON p.query_id = l.query_id
       |  JOIN home h ON h.cid = p.cid AND h.vec_id <> l.query_id
       |  JOIN cl c ON c.vec_id = h.vec_id),
       |short AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY ac DESC, vec_id) AS arnk
       |    FROM approx)
       |  WHERE arnk <= ${2 * PqShort})
       |$pqRerankSql""".stripMargin
  }

  // -------------------------------------------------------------- qe14b
  /** PQ with a PERSISTED index (the qe5b/qd6b lifecycle): at corpus
    * scale the codebook fit and the encode are offline artifacts —
    * `pqBuild` writes the codes frame (vec_id + 8 codes: the 256×
    * compressed searchable corpus) and the 128-row codebook as parquet
    * once; the probe-only path reads them back, so the per-query cost
    * is the codes scan against broadcast LUTs + the shortlist rerank —
    * no Lloyd rounds, no corpus re-encode.
    */
  def pqIndexPath(dir: String): String =
    HadoopFs.indexPath("pq", dir, PqM, PqKs, PqSubDim, PqIters, "m6dp")

  def pqBuild(s: SparkSession, dir: String, path: String): Unit = {
    import s.implicits._
    val (cb, codes) = pqFit(s, dir)
    (for (sub <- 0 until PqM; c <- 0 until PqKs) yield (sub, c, cb(sub)(c)))
      .toDF("sub", "code", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    // codes, the witness, last
    codes.write.mode("overwrite").parquet(s"$path/codes")
  }

  val Pq: PersistedIndex =
    PersistedIndex("pq", "embeddings", "codes", pqIndexPath, pqBuild)

  /** The driver-resident codebook of the PQ index at `path`. */
  private def pqCodebook(s: SparkSession, path: String): Array[Array[Seq[Double]]] = {
    val cb = Array.fill(PqM, PqKs)(Seq.empty[Double])
    HadoopFs.parquet(s, s"$path/codebook").collect().foreach { r =>
      cb(r.getAs[Int]("sub"))(r.getAs[Int]("code")) =
        r.getSeq[Double](r.fieldIndex("cent"))
    }
    cb
  }

  def qe14b(s: SparkSession, dir: String): DataFrame = {
    registerNative(s)
    val path = Pq.ensure(s, dir)
    pqProbe(s, dir, pqCodebook(s, path), HadoopFs.parquet(s, s"$path/codes"))
  }

  // --------------------------------------------------------------- qe20
  /** IVF-PQ — the production ANN composition (faiss's IVFADC, Jégou et
    * al. 2011 §IV): the persisted IVF coarse quantizer (qe5b's artifact)
    * routes each query to its [[IVF_NPROBE]] nearest inverted lists, the
    * persisted PQ codes (qe14b's artifact) provide asymmetric-distance
    * scoring WITHIN those lists only, and the ADC shortlist gets the
    * full-precision rerank. Per-query cost: ~nprobe/nlist of a 32-bit
    * codes scan + [[PqShort]] float rows — vs qe14's full codes scan and
    * qe5's full-float list scan; this is the shape that serves
    * billion-vector corpora. Both indexes are the offline artifacts
    * their standalone operators maintain (freshness dispatch rebuilds
    * either when the corpus moves); at build time they merge once into
    * the per-list codes layout, so the probe path is a single codes
    * scan gated by the broadcast probe table — no shuffle ever touches
    * the corpus at query time.
    *
    * No SQL oracle (both index states are engine-side); recall@5 vs the
    * exact qe1 twin floored in RecallSpec — necessarily ≤ qe14b's (the
    * gate can only remove candidates; what it buys is the scan cut).
    */
  def ivfPqIndexPath(dir: String): String =
    // the merged layout is DERIVED from the ivf assignments, so its
    // identity must include the quantizer's build params too — a
    // quantizer change with a same-named merged dir would silently pair
    // NEW probe centroids with OLD list ids
    HadoopFs.indexPath(
      "ivfpq", dir, IVF_NLIST, IvfFitIters, "lloyd6dp", PqM, PqKs, PqIters, "m6dp")

  /** The merged per-list codes layout (faiss stores codes PER inverted
    * list), built from fresh IVF assignments and PQ codes: the
    * assignments⋈codes join happens ONCE at build time; the probe-path
    * scan then reads (vec_id, list_id, codes) rows and never shuffles.
    */
  def ivfPqBuild(s: SparkSession, dir: String, path: String): Unit =
    HadoopFs.parquet(s, s"${Ivf.ensure(s, dir)}/assignments").select("vec_id", "list_id")
      .join(HadoopFs.parquet(s, s"${Pq.ensure(s, dir)}/codes"), Seq("vec_id"))
      .write.mode("overwrite").parquet(s"$path/codes")

  val IvfPq: PersistedIndex =
    PersistedIndex("ivfpq", "embeddings", "codes", ivfPqIndexPath, ivfPqBuild)

  def qe20(s: SparkSession, dir: String): DataFrame = {
    registerNative(s)
    val ivfPath = Ivf.ensure(s, dir)
    val cb = pqCodebook(s, Pq.ensure(s, dir))
    val merged = IvfPq.ensure(s, dir)
    val centDf = HadoopFs.parquet(s, s"$ivfPath/centroids")
    val probes = embs(s, dir).filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
      .crossJoin(broadcast(centDf))
      .withColumn("d2", dround(dot(col("qvec"), col("qvec"))
        - lit(2.0) * dot(col("qvec"), col("cent"))
        + dot(col("cent"), col("cent")), 6))
      .withColumn("pr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("d2").asc, col("cent_id").asc)))
      .filter(col("pr") <= IVF_NPROBE)
      .select(col("query_id"), col("cent_id"))
    // the deterministic quantizer balances the inverted lists, so
    // a 4/16 probe now pools ~25% of the corpus — at the old fixed
    // shortlist (50 ≈ 10% of the pool) ADC noise crowded true
    // neighbors out of the rerank (measured 0.16 recall at sf0.1, was
    // 0.56 on the skew-listed ML quantizer whose probed pools were
    // smaller). The gated path reranks 2·PqShort: still ~100 float
    // rows/query — the scan-cut economics are unchanged, and recall
    // re-earns its floor instead of the floor chasing recall down.
    pqProbe(s, dir, cb, HadoopFs.parquet(s, s"$merged/codes"), Some(probes),
      shortN = 2 * PqShort)
  }

  // --------------------------------------------------------------- qe15
  /** k-NN density outlier scoring: each vector's score is its cosine
    * DISTANCE to its [[DensityK]]-th nearest neighbor (large = isolated
    * = out-of-distribution), and the top-2% by score are flagged `ood` —
    * the embedding-space outlier-pruning pass a training pipeline runs
    * to drop mislabeled/garbage points before contrastive training
    * (kNN-distance is the classic non-parametric density estimate).
    *
    * This is the exact all-pairs formulation — the oracle anchor, same
    * role as qe4's exact twin. The production shape is [[qe15c]]:
    * multi-probe IVF candidate gating with exact refinement on
    * candidates only — a monotone upper bound on the true distance,
    * never all-pairs. Single-probe gating (the qe10
    * Σn_c² shape) was measured first and rejected for this operator:
    * on near-random 64-dim vectors whose 5th-NN distances concentrate
    * in [0.65, 0.76] a query's neighbors land in its own argmin cell
    * too rarely (0.00/0.05 flag agreement at sf0.01/sf0.1); probing
    * the nearest cells up to a mass budget recovers neighbor recall
    * into the floored band — see the qe15c section doc. The
    * 6dp-round-then-tiebreak discipline makes the k-th-neighbor pick
    * and the global top-2% rank a total order on both engines → full
    * hash-match oracle.
    */
  private val DensityK = 5

  // ------------------------------------------ blocked all-pairs kernel
  /** Tile side of the blocked exact all-pairs kernel: vectors per
    * block. 512 keeps one tile at 512² = 262k dot products (~17 MFLOP,
    * milliseconds of tight primitive loop) and one packed block at
    * ~270 KB of (id, label, vec, nrm) — the granularity is a function
    * of the block size, never of the corpus (n/512 blocks at any n).
    */
  private val PairBlock = 512

  /** Bounded top-k buffer over (key, id): keeps the k smallest (asc
    * mode) or largest (desc mode) keys with the id-ascending tiebreak.
    * Comparison is java.lang.Double.compare — the same total order
    * Spark SQL sorts doubles by (NaN greatest, NaN = NaN) — and keys
    * are normalized with +0.0 at offer so -0.0 ties +0.0 exactly as
    * Spark's comparison does. k ≤ 5 here, so insertion into a sorted
    * array beats any heap.
    */
  private final class TopKBuf(k: Int, desc: Boolean) {
    val keys = new Array[Double](k)
    val ids = new Array[Long](k)
    val labs = new Array[Int](k)
    val raws = new Array[Double](k)
    var size = 0
    private def before(k1: Double, i1: Long, k2: Double, i2: Long): Boolean = {
      val c = java.lang.Double.compare(k1, k2)
      (if (desc) c > 0 else c < 0) || (c == 0 && i1 < i2)
    }
    def offer(key0: Double, id: Long, lab: Int, raw: Double): Unit = {
      val key = key0 + 0.0 // -0.0 → +0.0; NaN/everything else unchanged
      if (size == k && !before(key, id, keys(k - 1), ids(k - 1))) return
      var i = if (size < k) size else k - 1
      while (i > 0 && before(key, id, keys(i - 1), ids(i - 1))) {
        keys(i) = keys(i - 1); ids(i) = ids(i - 1)
        labs(i) = labs(i - 1); raws(i) = raws(i - 1)
        i -= 1
      }
      keys(i) = key; ids(i) = id; labs(i) = lab; raws(i) = raw
      if (size < k) size += 1
    }
  }

  /** Exact directed top-k candidates via blocked tile products (guide
    * §2.3 aggregate-before-shuffle + §5 no per-row object churn): pack
    * the corpus into ⌈n/[[PairBlock]]⌉ blocks of primitive arrays (one
    * exchange keyed on the deterministic block id), enumerate block
    * pairs, and inside each tile run the n_x·n_y dot products as tight
    * double-array loops, keeping only each vector's per-tile top-k —
    * so the frame the downstream window/agg tails consume shrinks from
    * n² directed rows to n·⌈n/B⌉·k while every dot product is still
    * computed (the anchors stay honestly O(n²) in FLOPs; what the
    * kernel removes is materializing, checkpointing and SORTING n²
    * rows).
    *
    * Bit-identity with the theta-join formulation it replaces:
    *  - the per-pair dot is the same left-to-right `s += a(d)*b(d)`
    *    fold as the native DotProduct expression, and rawcos is the
    *    same `dot / (na * nb)` — identical IEEE op sequence;
    *  - the per-tile cut key is [[graft.operators.Rounding.droundD]]
    *    (the Column dround's scalar twin, parity-pinned) of the SAME
    *    rounded value the downstream window orders by — dist
    *    round(1-raw,6) asc in dist mode, cos round(raw,6) desc
    *    otherwise — with the idb-asc tiebreak, under Spark's double
    *    total order (see [[TopKBuf]]);
    *  - a union of per-tile top-k is a superset of the global top-k
    *    under the same total order, so row_number ≤ k / = k selections
    *    downstream return exactly the theta-join rows (each ida keeps
    *    min(n-1, k) ≥ k candidates whenever the full frame had them).
    * VectorKernelSpec pins output equality against the retired
    * theta-join formulation at sf0.001/sf0.01.
    *
    * Emits (ida, la, idb, lb, rawcos) — raw UNROUNDED cosine, so every
    * caller applies its own existing dround expression — checkpointed
    * (the n·⌈n/B⌉·k frame is what the old code cut, ~B/k times larger).
    */
  private def blockedTopKCands(s: SparkSession, dir: String, k: Int,
      distKey: Boolean): DataFrame =
    graft.operators.Checkpoints.cut(blockedTopKCandsUncut(s, dir, k, distKey))

  /** The kernel frame BEFORE the lineage cut — separated so PlanSpec
    * can pin the packed-exchange shape and plans/r18 can show it (the
    * cut hides the build job from every consumer's executed plan).
    */
  private[graft] def blockedTopKCandsUncut(s: SparkSession, dir: String,
      k: Int, distKey: Boolean): DataFrame = {
    registerNative(s)
    val sess = s
    import sess.implicits._
    val n = Tables.embeddings(s, dir).count()
    val nb = math.max(1L, (n + PairBlock - 1) / PairBlock).toInt
    val packed = embs(s, dir)
      // deterministic synthetic block id (guide §2.5): balanced in
      // expectation for arbitrary id spaces, reproducible under retries
      .withColumn("blk", pmod(xxhash64(col("vec_id")), lit(nb)).cast("int"))
      .groupBy("blk")
      .agg(collect_list(struct(col("vec_id"), col("label"), col("vec"),
        col("nrm"))).as("rows"))
    val tiles = packed.select(col("blk").as("xblk"), col("rows").as("xrows"))
      .join(packed.select(col("blk").as("yblk"), col("rows").as("yrows")),
        col("xblk") <= col("yblk"))
    val cands = tiles.flatMap { row =>
      // unpack once per tile into primitive arrays; list order within a
      // block is shuffle-dependent and provably irrelevant (the cut key
      // (key, id) is duplicate-free, dots are order-independent)
      def unpack(rs: scala.collection.Seq[org.apache.spark.sql.Row]) = {
        val m = rs.length
        val ids = new Array[Long](m); val labs = new Array[Int](m)
        val nrms = new Array[Double](m)
        val dim = if (m == 0) 0 else rs.head.getSeq[Double](2).length
        val flat = new Array[Double](m * dim)
        var i = 0
        while (i < m) {
          val r = rs(i)
          ids(i) = r.getLong(0); labs(i) = r.getInt(1); nrms(i) = r.getDouble(3)
          val v = r.getSeq[Double](2)
          require(v.length == dim, s"dimension mismatch (${v.length} vs $dim)")
          var d = 0
          while (d < dim) { flat(i * dim + d) = v(d); d += 1 }
          i += 1
        }
        (ids, labs, flat, nrms, dim)
      }
      val diag = row.getInt(0) == row.getInt(2)
      val (xid, xlab, xv, xn, dim) =
        unpack(row.getSeq[org.apache.spark.sql.Row](1))
      val (yid, ylab, yv, yn, dimY) =
        if (diag) (xid, xlab, xv, xn, dim)
        else unpack(row.getSeq[org.apache.spark.sql.Row](3))
      require(dimY == dim || xid.length == 0 || yid.length == 0,
        s"dimension mismatch across blocks ($dim vs $dimY)")
      val hx = Array.fill(xid.length)(new TopKBuf(k, !distKey))
      val hy = if (diag) hx else Array.fill(yid.length)(new TopKBuf(k, !distKey))
      var i = 0
      while (i < xid.length) {
        val bi = i * dim
        var j = if (diag) i + 1 else 0
        while (j < yid.length) {
          val bj = j * dim
          var sdot = 0.0
          var d = 0
          while (d < dim) { sdot += xv(bi + d) * yv(bj + d); d += 1 }
          val raw = sdot / (xn(i) * yn(j))
          val key = if (distKey) graft.operators.Rounding.droundD(1.0 - raw, 6)
                    else graft.operators.Rounding.droundD(raw, 6)
          hx(i).offer(key, yid(j), ylab(j), raw)
          hy(j).offer(key, xid(i), xlab(i), raw)
          j += 1
        }
        i += 1
      }
      val out = scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Int, Double)]()
      def emit(ids: Array[Long], labs: Array[Int], hs: Array[TopKBuf]): Unit = {
        var i = 0
        while (i < ids.length) {
          val h = hs(i)
          var r = 0
          while (r < h.size) {
            out += ((ids(i), labs(i), h.ids(r), h.labs(r), h.raws(r)))
            r += 1
          }
          i += 1
        }
      }
      emit(xid, xlab, hx)
      if (!diag) emit(yid, ylab, hy)
      out
    }.toDF("ida", "la", "idb", "lb", "rawcos")
    cands
  }

  def qe15(s: SparkSession, dir: String): DataFrame =
    // blocked-kernel form of the retired theta self-join: same
    // rounded distances, same window selection — the kernel's per-tile
    // top-k frame provably contains each vector's true top-k
    oodFrom(blockedTopKCands(s, dir, DensityK, distKey = true)
      .withColumn("dist", dround(lit(1.0) - col("rawcos"), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("ida").orderBy(col("dist").asc, col("idb").asc)))
      .filter(col("rnk") === DensityK)
      .select(col("ida").as("vec_id"), col("dist").as("knn_dist")))

  /** Shared qe15/qe15c OOD tail: global top-2% rank over the per-vector
    * K-th-neighbor distances (two-phase-capable rankBy, 1-row count
    * broadcast).
    */
  private def oodFrom(kth: DataFrame): DataFrame = {
    val n = kth.agg(count(lit(1)).as("n_all"))
    graft.operators.Pareto.rankBy(
        kth, Seq(col("knn_dist").desc, col("vec_id").asc), "grnk")
      .crossJoin(broadcast(n))
      .select(col("vec_id"), col("knn_dist"),
        (expr("(grnk - 1) * 50 div n_all") === 0).as("ood"))
  }

  private val qe15Sql =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM e),
       |kth AS (
       |  SELECT vec_id, dist AS knn_dist FROM (
       |    SELECT a.vec_id,
       |           round(1.0 - list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6)
       |             AS dist,
       |           row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |             round(1.0 - list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6),
       |             b.vec_id) AS rnk
       |    FROM n a, n b WHERE a.vec_id <> b.vec_id)
       |  WHERE rnk = $DensityK),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM kth)
       |SELECT vec_id, knn_dist,
       |       (grnk - 1) * 50 // n_all = 0 AS ood
       |FROM (SELECT *, CAST(row_number() OVER (
       |        ORDER BY knn_dist DESC, vec_id) AS INT) AS grnk FROM kth), t""".stripMargin

  // ------------------------------------------- qe15c / qe22c / qe25c
  /** ANN-gated production twins of the three exact all-pairs corpus
    * operators (kNN density qe15, mutual-NN bitext mining qe22,
    * leave-one-out kNN confusion qe25). Candidate generation is
    * multi-probe IVF over deterministic k-means cells ([[GateRule]]):
    * every vector is HOMED in its argmin cell and PROBES its
    * distance-ranked cells until their cumulative home mass reaches the
    * budget, and a directed candidate (a → b) exists iff b's home cell
    * is among a's probed cells. That makes the pair join an equi-join
    * on the cell id — a posting-list scan, never an `ida < idb` theta
    * self-join.
    *
    * Scale discipline:
    *
    *  - K = max(8, ⌈√n⌉) cells ([[gateK]]). The quantizer fits on a
    *    deterministic strided SAMPLE (~[[GateFitPerCell]]·K rows — at
    *    the oracle scales the stride is 1 and the fit sees everything;
    *    at 100 TB the fit cost is bounded by the sample, not the
    *    corpus), [[GateFitIters]] Lloyd refits, every averaged
    *    component 6dp-rounded so the fit is reproducible across
    *    partitionings (invariance property-pinned in GraftProperties).
    *  - Each vector scans ⌈massFrac·n⌉ home mass whatever the fit's
    *    mass distribution. A fixed count of probed cells scans P·n/K
    *    only on a balanced fit: high-dimensional near-random vectors
    *    concentrate distances, a K=142 Lloyd fit of the 10× corpus
    *    (n=20k) put most of the corpus in a few megacells, and a fixed
    *    16-cell probe there scanned 53% of all pairs. Recall is a
    *    function of scanned mass on these corpora, so pinning the mass
    *    pins recall and cost together.
    *  - The scored candidate frame is built ONCE and PERSISTED (the
    *    qe5b/qd6b offline-index lifecycle, staleness-checked against
    *    the source): qe15c/qe22c/qe25c all read the same artifact, so
    *    each twin's per-query cost is one slim parquet scan plus its
    *    own rank/agg tail.
    *
    * The exact forms stay registered as the oracle anchors; the gated
    * twins are recall-floored against them in RecallSpec/RECALL.json
    * (neighbor recall for qe15c, pair recall for qe22c, per-vector
    * prediction agreement for qe25c), and PlanSpec pins that candidate
    * generation never contains a nested-loop or cartesian join.
    */
  private[queries] val GateFitIters = 3
  private[queries] val GateFitPerCell = 64

  /** Default recall15 target for recall-targeted gate sizing (the
    * persisted sweep curves as production behavior, not advisory
    * measurement). At 0.70 the committed sf0.1 curve certifies exactly
    * [[GateMassFrac]], so on the tuned corpus the sized build and the
    * constant build coincide, while a corpus whose curve certifies a
    * cheaper fraction at the target gets the cheaper index.
    */
  private[graft] val GateRecallTarget = 0.70

  /** The sizing target certifies recall15, but the sized budget also
    * serves qe22c's mutual-NN recall and qe25c's confusion agreement,
    * and the floors for those come from the SAME sweep that picked the
    * budget, so a secondary-measure collapse would self-certify.
    * Absolute minimums the certified budget's curve row must ALSO meet
    * on recall22/agree25: a budget whose row shows a secondary measure
    * below this is not certifiable no matter how cheap (sizing then
    * tries the next budget, or falls back to the constant). 0.50 = "the
    * approximate family still finds the majority of what the exact twin
    * finds" — an independent, corpus-agnostic bound, below every
    * committed curve's certified rows so it binds only on genuine
    * collapse.
    */
  private[graft] val GateSecondaryMin = 0.50

  /** √n-list IVF sizing: K ~ √n keeps the assignment cost (n·K dot
    * products) sub-quadratic. Floor 8 keeps the quantizer meaningful on
    * tiny corpora.
    */
  private[graft] def gateK(n: Long): Int =
    math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** The gate's quantizer fit alone (strided sample + Lloyd refits) —
    * split from the probe stage so a budget sweep ([[GateCurve]]) fits
    * ONCE and re-probes at each budget (the fit does not depend on the
    * budget).
    */
  private[graft] def gateFitCents(e: DataFrame, k: Int, n: Long): Array[(Int, Seq[Double])] = {
    val stride = math.max(1L, n / (GateFitPerCell.toLong * k))
    val fit =
      if (stride == 1L) e else e.filter(pmod(col("vec_id"), lit(stride)) === 0)
    kmeansCentroids(fit.select("vec_id", "vec", "nrm"), k, GateFitIters)
  }

  /** Unordered-pair scoring tail of [[GateRule]]: directed (cid, ida)
    * probes × (cid, idb) homes → each unordered pair cosine-scored once
    * and mirrored into its surviving directions.
    */
  private[queries] def gateScoreCands(e: DataFrame, probed: DataFrame,
      home: DataFrame): DataFrame = {
    // the candidate join runs on bare ids —
    // no embedding ever rides the explode or the cid shuffle — and each
    // UNORDERED pair is cosine-scored exactly once, then mirrored into
    // whichever directions survived the gate. Both directions almost
    // always survive (every vector probes its own home cell), so a
    // directed frame would score nearly every cosine twice. dot() is
    // an index-ordered fold of commutative products, so cos(a,b) is
    // bit-equal to cos(b,a): the directed output rows — and the DuckDB
    // oracle hashes over them — are unchanged by construction.
    val pairs = probed.join(home, Seq("cid"))
      .filter(col("ida") =!= col("idb"))
      .select(least(col("ida"), col("idb")).as("lo"),
        greatest(col("ida"), col("idb")).as("hi"),
        (col("ida") < col("idb")).as("fwd"))
      .groupBy("lo", "hi")
      .agg(max(col("fwd")).as("has_fwd"), max(!col("fwd")).as("has_rev"))
    def side(as: String) = e.select(col("vec_id").as(as),
      col("label").as(s"l_$as"), col("vec").as(s"v_$as"), col("nrm").as(s"n_$as"))
    val scored = pairs
      .join(side("lo"), Seq("lo")).join(side("hi"), Seq("hi"))
      .withColumn("cos",
        dround(cosine(col("v_lo"), col("v_hi"), col("n_lo"), col("n_hi")), 6))
    scored.filter(col("has_fwd"))
      .select(col("lo").as("ida"), col("l_lo").as("la"),
        col("hi").as("idb"), col("l_hi").as("lb"), col("cos"))
      .unionByName(scored.filter(col("has_rev"))
        .select(col("hi").as("ida"), col("l_hi").as("la"),
          col("lo").as("idb"), col("l_lo").as("lb"), col("cos")))
  }

  /** The three exact-twin anchors a gate sweep measures against,
    * materialized once (they are the sweep's dominant cost), returned
    * as a measurement closure: candidate frame in → (scored rows,
    * recall15, recall22, agree25) out.
    */
  private[queries] def gateSweepAnchors(s: SparkSession, dir: String)
      : DataFrame => (Long, Double, Double, Double) = {
    val exact15 = knnPairsExact(s, dir).localCheckpoint()
    val exact22 = qe22(s, dir).select("vec_a", "vec_b").localCheckpoint()
    val exact25 = qe25PredExact(s, dir)
      .select(col("ida"), col("pred_label").as("pe")).localCheckpoint()
    val n15 = exact15.count()
    val n22 = exact22.count()
    val n25 = exact25.count()
    candsIn => {
      val cands = candsIn.localCheckpoint()
      val rows = cands.count()
      val r15 = exact15.join(topKPairs(cands), Seq("ida", "idb"), "left_semi")
        .count().toDouble / math.max(n15, 1L)
      val g22 = mutualMarginFrom(cands.select("ida", "idb", "cos"))
        .select("vec_a", "vec_b")
      val r22 = exact22.join(g22, Seq("vec_a", "vec_b"), "left_semi").count().toDouble /
        math.max(n22, 1L)
      val g25 = knnPredFrom(cands).select(col("ida"), col("pred_label").as("pg"))
      val r25 = exact25.join(g25, Seq("ida"))
        .filter(col("pe") === col("pg")).count().toDouble / math.max(n25, 1L)
      (rows,
        graft.operators.Rounding.droundD(r15, 4),
        graft.operators.Rounding.droundD(r22, 4),
        graft.operators.Rounding.droundD(r25, 4))
    }
  }

  /** Home-cell mass per non-empty cell of the PRODUCTION gate fit,
    * heaviest first: what tools/GateResolve prints (a skewed mass
    * distribution is what makes a fixed cell count scan far more than
    * its balanced share on near-uniform corpora).
    */
  private[graft] def gateHomeMasses(s: SparkSession, dir: String): Seq[Long] = {
    val e = embs(s, dir)
    val n = Tables.embeddings(s, dir).count()
    // the PRODUCTION fit path (a copy of the stride/sample
    // rule here would silently diverge from what the gate actually
    // runs — the diagnostic must measure the production quantizer)
    val cents = gateFitCents(e, gateK(n), n)
    GateRule.homes(e, centroidCands(cents)).groupBy("cid").count()
      .collect().map(_.getLong(1)).sorted(Ordering[Long].reverse).toSeq
  }

  /** qe15's census/OOD tail over the gated candidate frame. A vector
    * with fewer than [[DensityK]] gated candidates keeps its max-rank
    * candidate distance instead of silently dropping out (a dropped
    * vector would shrink the top-2% denominator relative to exact qe15
    * — every vector stays in the census with its best available
    * distance estimate), and a vector with ZERO gated candidates —
    * possible on degenerate corpora where its probed cells hold no
    * other vector — enters at the maximum cosine distance 2.0, i.e.
    * maximally OOD, via the left join from the full vector list.
    */
  private def densityTailFrom(s: SparkSession, dir: String,
      sym: DataFrame): DataFrame = {
    val kth = sym
      .withColumn("dist", dround(lit(1.0) - col("cos"), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("ida").orderBy(col("dist").asc, col("idb").asc)))
      .withColumn("mxr", max(col("rnk")).over(Window.partitionBy("ida")))
      .filter(col("rnk") === least(lit(DensityK), col("mxr")))
      .select(col("ida").as("vec_id"), col("dist").as("knn_dist"))
      // cut lineage here: oodFrom consumes its input TWICE (the ranked
      // path and the broadcast n_all count) — without the cut each
      // consumer re-runs the two windows over the full candidate frame
      .localCheckpoint()
    // census base: the RAW table pruned to vec_id (embs()'s vec/nrm
    // projection would drag the embedding column through the scan)
    oodFrom(Tables.embeddings(s, dir).select(col("vec_id"))
      .join(kth, Seq("vec_id"), "left")
      .withColumn("knn_dist", coalesce(col("knn_dist"), lit(2.0))))
  }

  /** The gate's scanned-mass fraction when no current curve certifies
    * one: each vector probes ranked cells until the cumulative home
    * mass reaches ⌈0.35·n⌉. 0.35 is the fraction the committed sf0.1
    * curve certifies at [[GateRecallTarget]] (0.7811/0.7166/0.6505 for
    * 1.44M directed candidates, gates/curves/).
    */
  private[graft] val GateMassFrac = 0.35

  /** qe15's production twin: K-th-NN distance + top-2% OOD flag over
    * the [[GateRule]] candidates.
    */
  def qe15c(s: SparkSession, dir: String): DataFrame =
    densityTailFrom(s, dir, GateRule.read(s, dir))

  /** qe22's production twin: mutual-top-1 ratio-margin pairs over the
    * gated candidates (both directions must survive the gate AND be
    * each other's top-1 — the mutual check is unchanged).
    */
  def qe22c(s: SparkSession, dir: String): DataFrame =
    mutualMarginFrom(GateRule.read(s, dir).select("ida", "idb", "cos"))

  /** qe25's production twin: leave-one-out majority-label confusion
    * matrix voted over the gated candidate top-K.
    */
  def qe25c(s: SparkSession, dir: String): DataFrame =
    confusionFrom(knnPredFrom(GateRule.read(s, dir)))

  /** Recall-spec probes: per-vector top-[[DensityK]] neighbor id pairs
    * (ida, idb) and per-vector label predictions, on the exact path and
    * on the gate's persisted candidates.
    */
  private def topKPairs(sym: DataFrame): DataFrame =
    sym.withColumn("rn", row_number().over(
        Window.partitionBy("ida").orderBy(col("cos").desc, col("idb").asc)))
      .filter(col("rn") <= DensityK).select("ida", "idb")

  private[graft] def knnPairsExact(s: SparkSession, dir: String): DataFrame =
    topKPairs(labeledSymExact(s, dir))

  private[graft] def knnPairsAt(s: SparkSession, dir: String): DataFrame =
    topKPairs(GateRule.read(s, dir))

  private[graft] def qe25PredExact(s: SparkSession, dir: String): DataFrame =
    knnPredFrom(labeledSymExact(s, dir))

  private[graft] def qe25PredAt(s: SparkSession, dir: String): DataFrame =
    knnPredFrom(GateRule.read(s, dir))

  /** Rounded squared L2 distance, the SQL twin of [[centroidCands]]. */
  private def d2Sql(v: String, c: String) =
    s"""round(list_dot_product($v, $v) - 2 * list_dot_product($v, $c)
       |        + list_dot_product($c, $c), 6)""".stripMargin

  /** Shared seeded-Lloyd CTE generator ([[kmeansCentroids]] in SQL):
    * `kpBody` yields the 1-row cell-count table `kp(k)`, `iters` Lloyd
    * refits follow, and the chain ends at `af` — every vector's rank
    * over the FINAL centroids by the 6dp-rounded squared-L2 (rk = 1 is
    * the argmin home; rk ≤ P is the multi-probe list). Used by the
    * gate oracle ([[GateRule.ctes]]: K = ⌈√n⌉, [[GateFitIters]]) and the
    * IVF oracle (K = [[IVF_NLIST]], [[IvfFitIters]]).
    */
  private[queries] def lloydCtes(kpBody: String, iters: Int): String = {
    val head =
      s"""WITH e AS (
         |  SELECT vec_id, label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
         |  FROM embeddings),
         |n AS (SELECT vec_id, label, vec,
         |             sqrt(list_dot_product(vec, vec)) AS nrm FROM e),
         |kp AS ($kpBody),
         |c0 AS (
         |  SELECT CAST(rn - 1 AS INT) AS cid, cvec FROM (
         |    SELECT row_number() OVER (ORDER BY vec_id) AS rn, vec AS cvec
         |    FROM e)
         |  WHERE rn <= (SELECT k FROM kp))""".stripMargin
    val its = (1 to iters).map { i =>
      s"""a$i AS (
         |  SELECT vec_id, cid, vec, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY ${d2Sql("vec", "cvec")} ASC, cid ASC) AS rk
         |  FROM e, c${i - 1}),
         |c$i AS (
         |  SELECT cid, list(m ORDER BY i) AS cvec
         |  FROM (SELECT cid, i, round(avg(x), 6) AS m
         |        FROM (SELECT cid, unnest(range(1, len(vec) + 1)) AS i,
         |                     unnest(vec) AS x
         |              FROM a$i WHERE rk = 1)
         |        GROUP BY cid, i)
         |  GROUP BY cid)""".stripMargin
    }
    val af =
      s"""af AS (
         |  SELECT e.vec_id, cid, row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY ${d2Sql("e.vec", "cvec")} ASC, cid ASC) AS rk
         |  FROM e, c$iters)""".stripMargin
    (head +: its :+ af).mkString(",\n")
  }

  /** qe5/qe5b oracle: the deterministic IVF — fixed-K Lloyd fit,
    * argmin inverted lists, queries probe their [[IVF_NPROBE]] nearest
    * cells by the same rounded distance, exact cosine rank inside the
    * probed lists. qe5b reads the persisted build of the SAME fit, so
    * one SQL covers both registrations.
    */
  private lazy val qe5Sql = {
    val fit = lloydCtes(s"SELECT $IVF_NLIST AS k", IvfFitIters)
    s"""$fit,
       |home AS (SELECT vec_id, cid FROM af WHERE rk = 1),
       |probed AS (SELECT vec_id AS query_id, cid FROM af
       |           WHERE vec_id < $NQUERIES AND rk <= $IVF_NPROBE)
       |SELECT query_id, neighbor_id, cosine, rnk FROM (
       |  SELECT p.query_id, h.vec_id AS neighbor_id,
       |         round(list_dot_product(q.vec, d.vec) / (q.nrm * d.nrm), 6) AS cosine,
       |         CAST(row_number() OVER (PARTITION BY p.query_id ORDER BY
       |           round(list_dot_product(q.vec, d.vec) / (q.nrm * d.nrm), 6) DESC,
       |           h.vec_id) AS INT) AS rnk
       |  FROM probed p
       |  JOIN home h ON h.cid = p.cid AND h.vec_id <> p.query_id
       |  JOIN n q ON q.vec_id = p.query_id
       |  JOIN n d ON d.vec_id = h.vec_id)
       |WHERE rnk <= $K""".stripMargin
  }

  /** qe15's density/OOD tail over any `gcand` chain ([[GateRule.ctes]]),
    * with the twin's own census semantics (max-rank fallback when a
    * vector has fewer than [[DensityK]] gated candidates; distance 2.0
    * when it has none), mirroring [[densityTailFrom]] on the engine side.
    */
  private def densityTailSql(ctes: String): String =
    s"""$ctes,
       |gd AS (SELECT ida, idb, round(1.0 - cos, 6) AS dist FROM gcand),
       |rk2 AS (
       |  SELECT ida, dist,
       |         row_number() OVER (PARTITION BY ida
       |           ORDER BY dist ASC, idb ASC) AS rnk,
       |         count(*) OVER (PARTITION BY ida) AS mxr
       |  FROM gd),
       |kth AS (SELECT ida AS vec_id, dist AS knn_dist FROM rk2
       |        WHERE rnk = least($DensityK, mxr)),
       |census AS (
       |  SELECT e.vec_id, coalesce(k.knn_dist, CAST(2.0 AS DOUBLE)) AS knn_dist
       |  FROM e LEFT JOIN kth k ON e.vec_id = k.vec_id),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM census)
       |SELECT vec_id, knn_dist,
       |       (grnk - 1) * 50 // n_all = 0 AS ood
       |FROM (SELECT *, CAST(row_number() OVER (
       |        ORDER BY knn_dist DESC, vec_id) AS INT) AS grnk FROM census), t""".stripMargin

  /** qe22's mutual-top-1 ratio-margin tail over any `gcand` chain. */
  private def mutualTailSql(ctes: String): String =
    s"""$ctes,
       |rk2 AS (
       |  SELECT ida, idb, cos, CAST(round(cos * 1000000) AS BIGINT) AS micro,
       |         row_number() OVER (PARTITION BY ida ORDER BY cos DESC, idb) AS rn
       |  FROM gcand),
       |top AS (SELECT ida, CAST(sum(micro) AS BIGINT) AS s,
       |               CAST(count(*) AS BIGINT) AS k
       |        FROM rk2 WHERE rn <= $K GROUP BY ida),
       |nn AS (SELECT ida, idb, cos, micro FROM rk2 WHERE rn = 1),
       |mutual AS (
       |  SELECT f.ida AS vec_a, f.idb AS vec_b, f.cos AS cosine, f.micro AS micro
       |  FROM nn f JOIN nn g ON f.ida = g.idb AND f.idb = g.ida AND f.ida < f.idb)
       |SELECT vec_a, vec_b, cosine,
       |  round(CAST(2 * micro * ta.k * tb.k AS DOUBLE)
       |        / NULLIF(ta.s * tb.k + tb.s * ta.k, 0), 6) AS margin
       |FROM mutual
       |JOIN top ta ON vec_a = ta.ida
       |JOIN top tb ON vec_b = tb.ida""".stripMargin

  /** qe25's vote/confusion tail over any `gcand` chain. */
  private def confusionTailSql(ctes: String): String =
    s"""$ctes,
       |knn AS (
       |  SELECT * FROM (
       |    SELECT ida, la, lb,
       |           row_number() OVER (PARTITION BY ida ORDER BY cos DESC, idb) AS rn
       |    FROM gcand) WHERE rn <= $K),
       |pred AS (
       |  SELECT la AS true_label, lb AS pred_label FROM (
       |    SELECT ida, la, lb, count(*) AS votes,
       |           row_number() OVER (PARTITION BY ida
       |             ORDER BY count(*) DESC, lb) AS vr
       |    FROM knn GROUP BY ida, la, lb) WHERE vr = 1),
       |counts AS (
       |  SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n
       |  FROM pred GROUP BY 1, 2),
       |totals AS (SELECT true_label, CAST(sum(n) AS BIGINT) AS n_label
       |           FROM counts GROUP BY 1)
       |SELECT counts.true_label AS true_label, pred_label, n,
       |       round(n / n_label, 6) AS frac
       |FROM counts JOIN totals ON counts.true_label = totals.true_label""".stripMargin

  // --------------------------------------------------------------- qe16
  /** Cluster-balanced diversity sampling: cap each k-means cluster at
    * [[ClusterCap]] vectors, picked in deterministic salted-hash order —
    * the topic-rebalancing curation pass (cf. SemDeDup/D4-style
    * cluster-then-prune): a dominant topic contributes at most cap
    * examples while small topics survive whole, and the md5-hash pick
    * order makes the sample a pure function of vec_id (reproducible on
    * any partitioning — the qd11 sampling discipline, salted so it is
    * independent of every other sampler).
    *
    * Reuses qe9's deterministic, oracle-exact k-means assignment, so
    * the WHOLE operator hash-matches DuckDB (the kmeansCtes oracle
    * chain + a per-cluster rank). Shape: assignment is map-only
    * (broadcast centroids), then one shuffle on cluster id for the
    * per-cluster rank — the qd19 domain-cap shape on a different key.
    */
  private val ClusterCap = 25

  def qe16(s: SparkSession, dir: String): DataFrame = {
    val a = kmeansAssign(s, dir).select(col("vec_id"), col("cid"))
      .withColumn("hk", graft.operators.Sampling.hashBucket(
        concat(col("vec_id").cast("string"), lit("#q16")), 1000000))
    a.withColumn("pick_rank", row_number().over(
        Window.partitionBy("cid").orderBy(col("hk").asc, col("vec_id").asc)))
      .filter(col("pick_rank") <= ClusterCap)
      .select(col("vec_id"), col("cid").as("cluster_id"), col("pick_rank"))
  }

  private val qe16Sql =
    s"""$kmeansCtes
       |SELECT vec_id, cid AS cluster_id, pick_rank FROM (
       |  SELECT vec_id, cid, CAST(row_number() OVER (
       |      PARTITION BY cid ORDER BY
       |        CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#q16'), 1, 8))
       |          AS BIGINT) % 1000000, vec_id) AS INT) AS pick_rank
       |  FROM asg)
       |WHERE pick_rank <= $ClusterCap""".stripMargin

  // --------------------------------------------------------------- qe17
  /** Retrieval-quality metrics over the exact top-k: per-query
    * precision@5 and reciprocal rank, with label agreement as the
    * relevance proxy — the embedding-model eval an indexing pipeline
    * runs after every re-embed (swap qe1's exact neighbors for any ANN
    * variant's to score THAT index; the metric arithmetic is
    * unchanged). Rank-reciprocals are exact rationals of rnk ≤ 5
    * rounded at 6dp, so the whole scorecard hash-matches DuckDB.
    *
    * Shape: the top-k stage is qe1's (broadcast queries, one corpus
    * scan); the metrics are a K-row-per-query aggregation — free.
    */
  def qe17(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val ql = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
    topkExact(s, dir)
      .join(broadcast(ql), Seq("query_id"))
      .withColumn("rel", (col("label") === col("qlabel")).cast("int"))
      .groupBy("query_id", "qlabel")
      .agg(
        sum("rel").as("n_rel"),
        dround(sum("rel") / (lit(K) * 1.0), 6).as("precision_at_5"),
        dround(coalesce(max(when(col("rel") === 1, lit(1.0) / col("rnk"))),
          lit(0.0)), 6).as("reciprocal_rank"))
      .select("query_id", "qlabel", "n_rel", "precision_at_5", "reciprocal_rank")
  }

  private val qe17Sql =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |n AS (SELECT vec_id, label, vec,
       |             sqrt(list_dot_product(vec, vec)) AS nrm FROM e),
       |p AS (
       |  SELECT q.vec_id AS query_id, q.label AS qlabel, d.label,
       |         round(list_dot_product(q.vec, d.vec) / (q.nrm * d.nrm), 6) AS cosine,
       |         d.vec_id AS neighbor_id
       |  FROM n q, n d
       |  WHERE q.vec_id < $NQUERIES AND d.vec_id <> q.vec_id),
       |topk AS (
       |  SELECT query_id, qlabel,
       |         CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel, rnk
       |  FROM (SELECT *, CAST(row_number() OVER (
       |          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rnk
       |        FROM p)
       |  WHERE rnk <= $K)
       |SELECT query_id, qlabel,
       |  CAST(sum(rel) AS BIGINT) AS n_rel,
       |  round(CAST(sum(rel) AS BIGINT) / CAST($K AS DOUBLE), 6) AS precision_at_5,
       |  round(coalesce(max(CASE WHEN rel = 1
       |                     THEN CAST(1.0 AS DOUBLE) / rnk END),
       |                 CAST(0.0 AS DOUBLE)), 6) AS reciprocal_rank
       |FROM topk GROUP BY query_id, qlabel""".stripMargin

  // --------------------------------------------------------------- qe18
  /** Prototypicality pruning (SSL prototypes, Sorscher et al. 2022,
    * arXiv 2206.14486 — "Beyond neural scaling laws"): score every
    * vector by cosine to its OWN cluster centroid (the mean of the final
    * qe9 cluster members), rank most-prototypical-first within the
    * cluster, and drop the top 20% — in the data-abundant regime the
    * easy/prototypical examples are the ones worth pruning, the
    * documented complement of qe15's outlier cut (which trims the OTHER
    * tail). The keep rule is integer arithmetic (5·rank > size), so no
    * fraction can disagree between engines.
    *
    * Reuses qe9's deterministic k-means, so the whole operator
    * hash-matches DuckDB. Shape: centroids are a K×dim-cell partial
    * aggregation collected to a K-row broadcast; scoring is map-only;
    * the per-cluster rank is one shuffle on cluster id. K here is 8; a
    * production run carries 10⁴–10⁵ clusters (SemDeDup scale), so
    * per-cluster windows stay balanced — the skew guard is raising K,
    * never a global window.
    */
  def qe18(s: SparkSession, dir: String): DataFrame = {
    val asg = kmeansAssign(s, dir)
    val cent = asg.select(col("cid"), posexplode(col("vec")))
      .groupBy("cid", "pos").agg(dround(avg("col"), 6).as("m"))
      .groupBy("cid")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
      .select(col("cid"), transform(col("ps"), p => p.getField("m")).as("cvec"))
      .withColumn("cnrm", norm(col("cvec")))
    asg.join(broadcast(cent), Seq("cid"))
      .withColumn("proto_cos",
        dround(cosine(col("vec"), col("cvec"), col("nrm"), col("cnrm")), 6))
      .withColumn("proto_rank", row_number().over(
        Window.partitionBy("cid").orderBy(col("proto_cos").desc, col("vec_id").asc)))
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("cid")))
      .select(
        col("vec_id"), col("cid").as("cluster_id"), col("proto_cos"),
        col("proto_rank"),
        (col("proto_rank") * 5 > col("cluster_size")).as("keep"))
  }

  private val qe18Sql =
    s"""$kmeansCtes,
       |cent2 AS (
       |  SELECT cid, list(m ORDER BY i) AS cvec
       |  FROM (SELECT cid, i, round(avg(x), 6) AS m
       |        FROM (SELECT cid, unnest(range(1, len(vec) + 1)) AS i,
       |                     unnest(vec) AS x FROM asg)
       |        GROUP BY cid, i)
       |  GROUP BY cid),
       |sc AS (
       |  SELECT a.vec_id, a.cid,
       |         round(list_dot_product(a.vec, c.cvec)
       |               / (sqrt(list_dot_product(a.vec, a.vec))
       |                  * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS proto_cos
       |  FROM asg a JOIN cent2 c USING (cid)),
       |r AS (
       |  SELECT *,
       |         CAST(row_number() OVER (
       |             PARTITION BY cid ORDER BY proto_cos DESC, vec_id) AS INT)
       |           AS proto_rank,
       |         count(*) OVER (PARTITION BY cid) AS csz
       |  FROM sc)
       |SELECT vec_id, cid AS cluster_id, proto_cos, proto_rank,
       |       proto_rank * 5 > csz AS keep
       |FROM r""".stripMargin

  // --------------------------------------------------------------- qe19
  /** Binary (1-bit) sign quantization ANN: pack the 64 dimension signs
    * into ONE int64 word (32× smaller than fp32), shortlist by Hamming
    * distance (popcount of XOR — the cheapest similarity hardware can
    * compute), then rerank the 50-deep shortlist with exact full-precision
    * cosine. This is the binary-quantization retrieval mode of
    * faiss/modern vector stores; for sign bits, P(bit disagrees) =
    * angle/π, so Hamming order approximates angular order and the exact
    * rerank repairs the quantization noise on the short candidate list.
    *
    * Fully deterministic (integer Hamming + id tiebreaks, 6dp-rounded
    * rerank), so unlike the LSH/IVF/PQ family the WHOLE operator
    * hash-matches DuckDB; shortlist quality vs the exact qe1 twin is
    * additionally floored in RecallSpec. Shape: bit-packing is map-only
    * (and persists offline at 8 bytes/vector — a 100 TB fp32 corpus
    * becomes a 3 TB bit index); the scan carries only (vec_id, bits)
    * against broadcast query words; only the 50·|Q| shortlist rows ever
    * touch full vectors again.
    */
  private val HammingShortlist = 50

  def qe19(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val bits = (0 until 64).map(i =>
        when(element_at(col("vec"), i + 1) >= 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    val eb = e.withColumn("bits", bits).select("vec_id", "bits")
    val qb = eb.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("bits").as("qbits"))
    val short = eb.join(broadcast(qb), col("vec_id") =!= col("query_id"))
      .withColumn("ham", expr("bit_count(bits ^ qbits)"))
      .withColumn("srnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("ham").asc, col("vec_id").asc)))
      .filter(col("srnk") <= HammingShortlist)
      .select("query_id", "vec_id", "ham")
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    short.join(e.select("vec_id", "vec", "nrm"), Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine", dround(cosine(col("qvec"), col("vec"), col("qnrm"), col("nrm")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rnk") <= K)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("ham"), col("cosine"), col("rnk"))
  }

  private val qe19Sql =
    s"""WITH sg AS (
       |  SELECT vec_id, list_transform(embedding, x -> x >= 0) AS sg
       |  FROM embeddings),
       |p AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
       |         CAST(len(list_filter(range(1, 65),
       |                              i -> q.sg[i] <> c.sg[i])) AS INT) AS ham
       |  FROM sg q, sg c
       |  WHERE q.vec_id < $NQUERIES AND c.vec_id <> q.vec_id),
       |s AS (
       |  SELECT query_id, vec_id, ham FROM (
       |    SELECT *, row_number() OVER (
       |        PARTITION BY query_id ORDER BY ham, vec_id) AS srnk
       |    FROM p)
       |  WHERE srnk <= $HammingShortlist),
       |e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM e),
       |r AS (
       |  SELECT s.query_id, s.vec_id AS neighbor_id, s.ham,
       |         round(list_dot_product(q.vec, c.vec) / (q.nrm * c.nrm), 6) AS cosine
       |  FROM s JOIN n q ON q.vec_id = s.query_id
       |         JOIN n c ON c.vec_id = s.vec_id)
       |SELECT query_id, neighbor_id, ham, cosine, rnk FROM (
       |  SELECT *, CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rnk
       |  FROM r)
       |WHERE rnk <= $K""".stripMargin

  // --------------------------------------------------------------- qe21
  /** Pseudo-relevance feedback (Rocchio, in the SMART retrieval system,
    * 1971): retrieve the exact top-5, form the expanded query
    * q' = ½·q + ½·centroid(top-5), retrieve again with q' — the
    * zero-supervision recall amplifier: the query drifts toward the
    * neighborhood it already found and surfaces neighbors the raw
    * vector missed. Every expanded component is 6dp-rounded (the qe9
    * centroid discipline) before the second retrieval, so the whole
    * two-stage recursion hash-matches DuckDB.
    *
    * Shape: stage one is qe1's broadcast-queries corpus scan; the
    * expansion is a |Q|-row centroid aggregation; stage two is a
    * second broadcast scan with the expanded vectors. The corpus is
    * scanned twice and shuffled never — at production scale stage two
    * runs against the ANN index (qe20) instead of the exact scan, same
    * expansion arithmetic.
    */
  def qe21(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val mean = topkExact(s, dir).select("query_id", "neighbor_id")
      .join(e.select(col("vec_id").as("neighbor_id"), col("vec")), Seq("neighbor_id"))
      .select(col("query_id"), posexplode(col("vec")))
      .groupBy("query_id", "pos").agg(dround(avg("col"), 6).as("m"))
      .groupBy("query_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
      .select(col("query_id"), transform(col("ps"), p => p.getField("m")).as("mvec"))
    val q2 = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("vec"))
      .join(mean, Seq("query_id"))
      .select(col("query_id"),
        zip_with(col("vec"), col("mvec"),
          (a, b) => dround(a * 0.5 + b * 0.5, 6)).as("qv"))
      .withColumn("qnrm", norm(col("qv")))
    e.join(broadcast(q2), col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dround(cosine(col("qv"), col("vec"), col("qnrm"), col("nrm")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rnk") <= K)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"), col("rnk"))
  }

  private val qe21Sql =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM e),
       |p AS (
       |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
       |         round(list_dot_product(q.vec, d.vec) / (q.nrm * d.nrm), 6) AS cosine
       |  FROM n q, n d
       |  WHERE q.vec_id < $NQUERIES AND d.vec_id <> q.vec_id),
       |topk AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (
       |        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
       |    FROM p)
       |  WHERE rnk <= $K),
       |comp AS (
       |  SELECT query_id, unnest(range(1, len(vec) + 1)) AS i, unnest(vec) AS x
       |  FROM topk JOIN n ON n.vec_id = topk.neighbor_id),
       |mv AS (
       |  SELECT query_id, list(m ORDER BY i) AS mvec
       |  FROM (SELECT query_id, i, round(avg(x), 6) AS m FROM comp GROUP BY 1, 2)
       |  GROUP BY 1),
       |q2 AS (
       |  SELECT q.vec_id AS query_id,
       |         list_transform(range(1, len(q.vec) + 1),
       |                        i -> round(q.vec[i] * 0.5 + mv.mvec[i] * 0.5, 6)) AS qv
       |  FROM n q JOIN mv ON mv.query_id = q.vec_id),
       |r AS (
       |  SELECT q2.query_id, d.vec_id AS neighbor_id,
       |         round(list_dot_product(qv, d.vec)
       |               / (sqrt(list_dot_product(qv, qv)) * d.nrm), 6) AS cosine
       |  FROM q2, n d WHERE d.vec_id <> q2.query_id)
       |SELECT query_id, neighbor_id, cosine, rnk FROM (
       |  SELECT *, CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rnk
       |  FROM r)
       |WHERE rnk <= $K""".stripMargin

  // ---------------------------------------------------------------- qe22
  /** Mutual-nearest-neighbor pair mining with the ratio-margin score
    * (the bitext-mining criterion of Artetxe & Schwenk 2019: a pair
    * counts only when each side is the other's top-1 neighbor, scored by
    * cosine over the mean of both sides' top-K cosines). Margins are
    * computed on 1e-6-quantized integer cosines, so the top-K sums are
    * exact longs (order-independent) and the score is one integer-ratio
    * division — no float accumulation can flip a pair across engines.
    *
    * Scale: the exact all-pairs base (each unordered pair scored once,
    * then mirrored) is the oracle anchor; at 100 TB the top-1/top-K lists
    * come from the ANN candidates (qe2 bands / qe5 cells) and the mutual
    * check is a self-equi-join on the (nn, id) pair — candidate-local,
    * never corpus x corpus.
    */
  def qe22(s: SparkSession, dir: String): DataFrame =
    // blocked-kernel form of the retired theta self-join: the
    // tail's rn ≤ K sums and rn = 1 picks read only each ida's true
    // top-K, which the kernel frame contains by construction
    mutualMarginFrom(blockedTopKCands(s, dir, K, distKey = false)
      .withColumn("cos", dround(col("rawcos"), 6))
      .select("ida", "idb", "cos"))

  /** Shared qe22/qe22c tail: `scored` is a directed candidate frame
    * (ida, idb, cos) — each row "idb is a scored candidate of ida".
    * Ranks per ida, takes the top-K micro-cosine sums and the top-1,
    * keeps pairs where each side is the other's top-1, and emits the
    * ratio-margin score.
    */
  private def mutualMarginFrom(scored: DataFrame): DataFrame = {
    val sym = scored
      .withColumn("micro", dround(col("cos") * 1e6, 0).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("ida").orderBy(col("cos").desc, col("idb").asc)))
    val top = sym.filter(col("rn") <= K)
      .groupBy("ida").agg(sum("micro").as("s"), count(lit(1)).as("k"))
    val nn = sym.filter(col("rn") === 1).select("ida", "idb", "cos", "micro")
    val den = col("sa") * col("kb") + col("sb") * col("ka")
    nn.as("f").join(nn.as("g"),
        col("f.ida") === col("g.idb") && col("f.idb") === col("g.ida") &&
          col("f.ida") < col("f.idb"))
      .select(col("f.ida").as("vec_a"), col("f.idb").as("vec_b"),
        col("f.cos").as("cosine"), col("f.micro").as("micro"))
      .join(broadcast(top.select(col("ida").as("vec_a"), col("s").as("sa"), col("k").as("ka"))), Seq("vec_a"))
      .join(broadcast(top.select(col("ida").as("vec_b"), col("s").as("sb"), col("k").as("kb"))), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("cosine"),
        when(den === 0, lit(null).cast("double"))
          .otherwise(dround((lit(2L) * col("micro") * col("ka") * col("kb")) / den, 6))
          .as("margin"))
  }

  private val qe22Sql =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM e),
       |half AS (
       |  SELECT a.vec_id AS ida, b.vec_id AS idb,
       |         round(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6) AS cos
       |  FROM n a JOIN n b ON a.vec_id < b.vec_id),
       |sym AS (SELECT ida, idb, cos FROM half
       |        UNION ALL SELECT idb, ida, cos FROM half),
       |rk AS (
       |  SELECT ida, idb, cos, CAST(round(cos * 1000000) AS BIGINT) AS micro,
       |         row_number() OVER (PARTITION BY ida ORDER BY cos DESC, idb) AS rn
       |  FROM sym),
       |top AS (SELECT ida, CAST(sum(micro) AS BIGINT) AS s,
       |               CAST(count(*) AS BIGINT) AS k
       |        FROM rk WHERE rn <= $K GROUP BY ida),
       |nn AS (SELECT ida, idb, cos, micro FROM rk WHERE rn = 1),
       |mutual AS (
       |  SELECT f.ida AS vec_a, f.idb AS vec_b, f.cos AS cosine, f.micro AS micro
       |  FROM nn f JOIN nn g ON f.ida = g.idb AND f.idb = g.ida AND f.ida < f.idb)
       |SELECT vec_a, vec_b, cosine,
       |  round(CAST(2 * micro * ta.k * tb.k AS DOUBLE)
       |        / NULLIF(ta.s * tb.k + tb.s * ta.k, 0), 6) AS margin
       |FROM mutual
       |JOIN top ta ON vec_a = ta.ida
       |JOIN top tb ON vec_b = tb.ida""".stripMargin

  // ---------------------------------------------------------------- qe23
  /** Label-centroid similarity matrix: the cosine between the mean
    * vectors of every label pair — the class-separability / embedding-
    * drift diagnostic (re-run after each re-embed; two slices whose
    * centroids drift toward each other are losing separation). Cosine is
    * scale-invariant, so the centroid mean is never materialized: each
    * dimension's 1e-6-quantized component SUM (an exact long) stands in
    * for the mean, and the cross/self dot products accumulate in
    * Decimal(38,0) — exact at any corpus size, order-independent.
    *
    * Scale: one posexplode shuffle keyed on (label, dim) — 64 x #labels
    * cells — then a labels x labels matrix on the driver-scale result.
    */
  def qe23(s: SparkSession, dir: String): DataFrame =
    centroidMatrixFrom(embs(s, dir))

  /** Frame-parameterized twin (tests plant vectors): (label, vec). */
  private[graft] def centroidMatrixFrom(e: DataFrame): DataFrame = {
    val comp = e
      .select(col("label"), posexplode(col("vec")).as(Seq("dim", "x")))
      .withColumn("micro", dround(col("x") * 1e6, 0).cast("long"))
      .groupBy("label", "dim")
      .agg(sum("micro").as("sc"), count(lit(1)).as("n"))
    val dec = col("sc").cast("decimal(38,0)")
    val pair = comp.as("a")
      .join(comp.as("b"),
        col("a.dim") === col("b.dim") && col("a.label") < col("b.label"))
      .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
      .agg(
        sum(col("a.sc").cast("decimal(38,0)") * col("b.sc")).as("dotab"),
        first(col("a.n")).as("n_a"), first(col("b.n")).as("n_b"))
    val self = comp
      .groupBy("label")
      .agg(sum(dec * col("sc")).as("selfdot"))
    pair
      .join(broadcast(self.select(col("label").as("label_a"), col("selfdot").as("da"))), Seq("label_a"))
      .join(broadcast(self.select(col("label").as("label_b"), col("selfdot").as("db"))), Seq("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        dround(col("dotab").cast("double") /
          (sqrt(col("da").cast("double")) * sqrt(col("db").cast("double"))), 6)
          .as("centroid_cosine"))
  }

  private val qe23Sql =
    """WITH comp AS (
      |  SELECT label, dim, CAST(sum(micro) AS BIGINT) AS sc,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM (
      |    SELECT label, i - 1 AS dim,
      |           CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS micro
      |    FROM embeddings, range(1, 65) t(i))
      |  GROUP BY label, dim),
      |pair AS (
      |  SELECT a.label AS label_a, b.label AS label_b,
      |         sum(CAST(a.sc AS HUGEINT) * b.sc) AS dotab,
      |         first(a.n) AS n_a, first(b.n) AS n_b
      |  FROM comp a JOIN comp b ON a.dim = b.dim AND a.label < b.label
      |  GROUP BY 1, 2),
      |self AS (
      |  SELECT label, sum(CAST(sc AS HUGEINT) * sc) AS selfdot
      |  FROM comp GROUP BY label)
      |SELECT label_a, label_b, n_a, n_b,
      |  round(CAST(dotab AS DOUBLE)
      |        / (sqrt(CAST(sa.selfdot AS DOUBLE)) * sqrt(CAST(sb.selfdot AS DOUBLE))), 6)
      |    AS centroid_cosine
      |FROM pair
      |JOIN self sa ON label_a = sa.label
      |JOIN self sb ON label_b = sb.label""".stripMargin

  // ---------------------------------------------------------------- qe24
  /** Segment-merged top-k: the corpus is split into a BASE segment (the
    * 90% an offline index would cover) and a DELTA segment (the fresh
    * 10% not yet indexed, here vec_id % 10 = 0); each segment answers
    * top-K independently and the per-query lists merge by (cosine, id)
    * re-rank. Because the global top-K is always contained in the union
    * of per-segment top-Ks, the merge is EXACT — the spec pins
    * qe24 ≡ qe1 — which is precisely why the lambda shape (persisted ANN
    * over base + brute-force over the delta tail, qe5b/qe14b lifecycle)
    * serves fresh data without reindexing: correctness degrades only to
    * the index's recall, never from the merge.
    *
    * Scale: each segment is one pruned scan with the query set broadcast;
    * the merge operates on Q x 2K rows. `segment` records provenance.
    */
  def qe24(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    def seg(pred: Column, name: String): DataFrame =
      e.filter(pred)
        .join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("cosine",
          dround(cosine(col("qvec"), col("vec"), col("qnrm"), col("nrm")), 6))
        .withColumn("srnk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)))
        .filter(col("srnk") <= K)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("cosine"), lit(name).as("segment"))
    seg(col("vec_id") % 10 === 0, "delta")
      .unionByName(seg(col("vec_id") % 10 =!= 0, "base"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id").asc)).cast("int"))
      .filter(col("rnk") <= K)
      .select("query_id", "neighbor_id", "cosine", "segment", "rnk")
  }

  private val qe24Sql =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM e),
       |p AS (
       |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
       |         round(list_dot_product(q.vec, d.vec) / (q.nrm * d.nrm), 6) AS cosine
       |  FROM n q, n d
       |  WHERE q.vec_id < $NQUERIES AND d.vec_id <> q.vec_id)
       |SELECT query_id, neighbor_id, cosine,
       |       CASE WHEN neighbor_id % 10 = 0 THEN 'delta' ELSE 'base' END AS segment,
       |       rnk
       |FROM (
       |  SELECT *, CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rnk
       |  FROM p)
       |WHERE rnk <= $K""".stripMargin

  // ---------------------------------------------------------------- qe25
  /** Leave-one-out kNN label confusion matrix: EVERY vector is classified
    * by the majority label of its K exact nearest neighbors (itself
    * excluded), and the true x predicted matrix with row fractions is the
    * embedding-quality scorecard — qe3 generalized from the 10-query
    * slice to the whole corpus, reduced to the #labels² eval artifact.
    *
    * Scale: the exact all-pairs base is the oracle anchor (each unordered
    * pair scored once, mirrored — the qe15 trick); production swaps in
    * ANN candidate lists (qe2/qe5/qe14) and keeps the vote + matrix
    * layers unchanged. Votes and fractions are integer-exact.
    */
  def qe25(s: SparkSession, dir: String): DataFrame =
    confusionFrom(knnPredFrom(labeledSymExact(s, dir)))

  /** Exact directed labeled candidate frame shared by qe25 and the
    * qe25c recall measurement — the blocked-kernel form of the retired
    * mirrored theta self-join. Its consumers read each ida's true top-k
    * under (cos desc, idb asc) for k = K (knnPredFrom's votes) and
    * k = DensityK (knnPairsExact's pairs); building with the larger of
    * the two keeps both inside the per-tile top-k union by
    * construction, whatever values the constants take.
    */
  private def labeledSymExact(s: SparkSession, dir: String): DataFrame =
    blockedTopKCands(s, dir, math.max(K, DensityK), distKey = false)
      .withColumn("cos", dround(col("rawcos"), 6))
      .select("ida", "la", "idb", "lb", "cos")

  /** Shared qe25/qe25c vote stage: top-K by cosine per vector, majority
    * label with the (votes desc, label asc) tiebreak. Keeps ida so the
    * recall spec can compare per-vector predictions across the exact
    * and gated paths.
    */
  private def knnPredFrom(sym: DataFrame): DataFrame =
    sym.withColumn("rn", row_number().over(
        Window.partitionBy("ida").orderBy(col("cos").desc, col("idb").asc)))
      .filter(col("rn") <= K)
      .groupBy("ida", "la", "lb")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(
        Window.partitionBy("ida").orderBy(col("votes").desc, col("lb").asc)))
      .filter(col("vr") === 1)
      .select(col("ida"), col("la").as("true_label"), col("lb").as("pred_label"))

  /** Shared qe25/qe25c matrix tail: true × predicted counts with row
    * fractions (label-cardinality-sized frames, broadcast totals).
    */
  private def confusionFrom(pred: DataFrame): DataFrame = {
    val counts = pred.groupBy("true_label", "pred_label").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("true_label").agg(sum("n").as("n_label"))
    counts.join(broadcast(totals), Seq("true_label"))
      .select(col("true_label"), col("pred_label"), col("n"),
        dround(col("n") / col("n_label"), 6).as("frac"))
  }

  private val qe25Sql =
    s"""WITH e AS (
       |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |n AS (SELECT vec_id, label, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM e),
       |half AS (
       |  SELECT a.vec_id AS ida, a.label AS la, b.vec_id AS idb, b.label AS lb,
       |         round(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6) AS cos
       |  FROM n a JOIN n b ON a.vec_id < b.vec_id),
       |sym AS (SELECT ida, la, idb, lb, cos FROM half
       |        UNION ALL SELECT idb, lb, ida, la, cos FROM half),
       |knn AS (
       |  SELECT * FROM (
       |    SELECT ida, la, lb,
       |           row_number() OVER (PARTITION BY ida ORDER BY cos DESC, idb) AS rn
       |    FROM sym) WHERE rn <= $K),
       |pred AS (
       |  SELECT la AS true_label, lb AS pred_label FROM (
       |    SELECT ida, la, lb, count(*) AS votes,
       |           row_number() OVER (PARTITION BY ida
       |             ORDER BY count(*) DESC, lb) AS vr
       |    FROM knn GROUP BY ida, la, lb) WHERE vr = 1),
       |counts AS (
       |  SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n
       |  FROM pred GROUP BY 1, 2),
       |totals AS (SELECT true_label, CAST(sum(n) AS BIGINT) AS n_label
       |           FROM counts GROUP BY 1)
       |SELECT counts.true_label AS true_label, pred_label, n,
       |       round(n / n_label, 6) AS frac
       |FROM counts JOIN totals ON counts.true_label = totals.true_label""".stripMargin

  // ---------------------------------------------------------------- qe26
  /** IVF probe-sweep tuning curve: recall@K against the exact top-k and
    * the scanned-corpus fraction for nprobe ∈ {1, 2, 4, 8, 16} over the
    * SAME seeded quantizer — the artifact that picks a production
    * operating point (an index is tuned by reading this curve, not by
    * faith). The nprobe = nlist endpoint scans every list, so its recall
    * is 1.0 by construction — SketchSpec pins that endpoint plus
    * monotonicity of both columns in nprobe.
    *
    * Scale: ONE fit; each sweep point reuses the assignments frame and
    * differs only in the probe filter, so the sweep costs nprobe-sum
    * list scans, not five refits. No SQL oracle (quantizer state is
    * engine-side) — graded by the invariant spec like qe2/qe5.
    */
  def qe26(s: SparkSession, dir: String): DataFrame = {
    val (assigned, centDf) = ivfFit(s, dir)
    val cached = assigned.localCheckpoint()
    val exact = topkExact(s, dir).select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    val nExact = exact.count() // NQUERIES * K
    val corpus = cached.count()
    // loop-invariant: the number of query vectors present is the same at
    // every sweep point, so it is counted once
    val scanned = cached.filter(col("vec_id") < NQUERIES).count()
    // the five sweep points are INDEPENDENT jobs over
    // the same checkpointed frames — submitted sequentially, each
    // point's stage tail left most of the session idle. Three driver
    // threads keep the scheduler back-filled (FIFO: earlier points get
    // resources first, later ones use the tail's idle slots); results
    // are assembled in sweep order regardless of completion order, so
    // the output frame is byte-identical to the sequential form.
    val pts = Seq(1, 2, 4, IVF_NPROBE * 2, IVF_NLIST).distinct.sorted
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val rows =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        val futs = pts.map { p =>
          scala.concurrent.Future {
            val ann = ivfProbe(cached, centDf, p)
              .select(col("query_id"), col("neighbor_id"))
            val hits = ann.join(exact, Seq("query_id", "neighbor_id")).count()
            // scanned fraction: probed-list sizes summed over queries
            val listRows = ivfProbeListRows(cached, centDf, p)
            (p, graft.operators.Rounding.droundD(hits.toDouble / nExact, 6),
              graft.operators.Rounding.droundD(
                listRows.toDouble / (scanned.toDouble * corpus), 6))
          }
        }
        futs.map(scala.concurrent.Await.result(_,
          scala.concurrent.duration.Duration.Inf))
      } finally pool.shutdown()
    val s2 = s
    import s2.implicits._
    rows.toDF("nprobe", "recall", "scanned_frac")
  }

  /** qe26 oracle: with the quantizer deterministic, the whole
    * sweep is SQL — one Lloyd chain, the probe budgets as a VALUES
    * dimension (generated from the same Scala list as the Spark loop so
    * the sweep points can never drift), per-budget top-K recall against
    * the exact all-pairs top-K, and the probed-list-size accounting.
    */
  private lazy val qe26Sql = {
    val fit = lloydCtes(s"SELECT $IVF_NLIST AS k", IvfFitIters)
    val pts = Seq(1, 2, 4, IVF_NPROBE * 2, IVF_NLIST).distinct.sorted
      .map(p => s"($p)").mkString(", ")
    s"""$fit,
       |home AS (SELECT vec_id, cid FROM af WHERE rk = 1),
       |lsz AS (SELECT cid, CAST(count(*) AS BIGINT) AS sz FROM home GROUP BY cid),
       |corpus AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
       |nq AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e WHERE vec_id < $NQUERIES),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |             round(list_dot_product(q.vec, d.vec) / (q.nrm * d.nrm), 6) DESC,
       |             d.vec_id) AS rnk
       |    FROM n q, n d
       |    WHERE q.vec_id < $NQUERIES AND d.vec_id <> q.vec_id)
       |  WHERE rnk <= $K),
       |nex AS (SELECT CAST(count(*) AS BIGINT) AS n FROM exact),
       |ps(p) AS (VALUES $pts),
       |probed AS (
       |  SELECT ps.p, af.vec_id AS query_id, af.cid
       |  FROM af, ps WHERE af.vec_id < $NQUERIES AND af.rk <= ps.p),
       |ann AS (
       |  SELECT p, query_id, neighbor_id FROM (
       |    SELECT pr.p, pr.query_id, h.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY pr.p, pr.query_id ORDER BY
       |             round(list_dot_product(q.vec, d.vec) / (q.nrm * d.nrm), 6) DESC,
       |             h.vec_id) AS rnk
       |    FROM probed pr
       |    JOIN home h ON h.cid = pr.cid AND h.vec_id <> pr.query_id
       |    JOIN n q ON q.vec_id = pr.query_id
       |    JOIN n d ON d.vec_id = h.vec_id)
       |  WHERE rnk <= $K),
       |hits AS (SELECT p, CAST(count(*) AS BIGINT) AS h
       |         FROM ann JOIN exact USING (query_id, neighbor_id) GROUP BY p),
       |lrows AS (SELECT p, CAST(sum(sz) AS BIGINT) AS lr
       |          FROM probed JOIN lsz USING (cid) GROUP BY p)
       |SELECT ps.p AS nprobe,
       |       round(coalesce(h.h, 0) / nex.n, 6) AS recall,
       |       round(coalesce(r.lr, 0) / (nq.n * corpus.n), 6) AS scanned_frac
       |FROM ps
       |LEFT JOIN hits h ON ps.p = h.p
       |LEFT JOIN lrows r ON ps.p = r.p, nex, nq, corpus""".stripMargin
  }

  /** Rows a probe pass would score: Σ over queries of probed list sizes. */
  private def ivfProbeListRows(assigned: DataFrame, centDf: DataFrame,
      nprobe: Int): Long = {
    val q = assigned.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val probes = q.crossJoin(broadcast(centDf))
      .withColumn("d2", dround(dot(col("qvec"), col("qvec"))
        - lit(2.0) * dot(col("qvec"), col("cent"))
        + dot(col("cent"), col("cent")), 6))
      .withColumn("pr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("d2").asc, col("cent_id").asc)))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("cent_id"))
    val listSizes = assigned.groupBy(col("list_id")).agg(count(lit(1)).as("sz"))
    probes.join(broadcast(listSizes), col("cent_id") === col("list_id"))
      .agg(coalesce(sum("sz"), lit(0L))).collect()(0).getLong(0)
  }

  // ---------------------------------------------------------------- qe27
  /** Embedding health report: per-label norm statistics (count, mean,
    * sample std, min, max) plus degenerate-vector counts (zero-norm,
    * non-finite) — the sanity pass a pipeline runs after every re-embed
    * BEFORE anything downstream trusts the vectors (a single NaN
    * poisons a centroid; a zero norm turns cosine into 0/0).
    *
    * Exactness: norms quantize to 1e-6 integer units, so Σm and Σm²
    * accumulate exactly (Decimal(38,0) for the squares) and mean/std
    * divide exact quantities — no float-order drift across engines.
    *
    * Scale: one map-only pass to (label, micro-norm), one partial-agged
    * shuffle on label; output is #labels rows.
    */
  def qe27(s: SparkSession, dir: String): DataFrame = {
    val m = embs(s, dir)
      .withColumn("micro", dround(col("nrm") * 1e6, 0).cast("long"))
      .withColumn("bad", when(isnan(col("nrm")) ||
        col("nrm") === Double.PositiveInfinity, 1L).otherwise(0L))
    val mean = col("sm").cast("double") / col("n")
    val variance = (col("smm").cast("double") - col("n") * mean * mean) /
      (col("n") - 1)
    m.groupBy("label").agg(
        count(lit(1)).as("n"),
        sum("micro").as("sm"),
        sum(col("micro").cast("decimal(38,0)") * col("micro")).as("smm"),
        min("micro").as("mn"), max("micro").as("mx"),
        sum(when(col("micro") === 0L, 1L).otherwise(0L)).as("n_zero"),
        sum("bad").as("n_nonfinite"))
      .select(col("label"), col("n"),
        dround(mean / 1e6, 6).as("mean_norm"),
        when(col("n") > 1 && variance > 0, dround(sqrt(variance) / 1e6, 6))
          .otherwise(lit(0.0)).as("std_norm"),
        dround(col("mn") / 1e6, 6).as("min_norm"),
        dround(col("mx") / 1e6, 6).as("max_norm"),
        col("n_zero"), col("n_nonfinite"))
  }

  private val qe27Sql =
    """WITH m AS (
      |  SELECT label,
      |    CAST(round(sqrt(list_dot_product(vec, vec)) * 1000000) AS BIGINT) AS micro,
      |    CASE WHEN isnan(sqrt(list_dot_product(vec, vec)))
      |           OR isinf(sqrt(list_dot_product(vec, vec)))
      |         THEN 1 ELSE 0 END AS bad
      |  FROM (SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |        FROM embeddings)),
      |agg AS (
      |  SELECT label, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(micro) AS BIGINT) AS sm,
      |         sum(CAST(micro AS HUGEINT) * micro) AS smm,
      |         CAST(min(micro) AS BIGINT) AS mn, CAST(max(micro) AS BIGINT) AS mx,
      |         CAST(count(*) FILTER (micro = 0) AS BIGINT) AS n_zero,
      |         CAST(sum(bad) AS BIGINT) AS n_nonfinite
      |  FROM m GROUP BY label)
      |SELECT label, n,
      |  round(CAST(sm AS DOUBLE) / n / 1000000, 6) AS mean_norm,
      |  CASE WHEN n > 1 AND
      |            (CAST(smm AS DOUBLE) - n * (CAST(sm AS DOUBLE) / n)
      |                                     * (CAST(sm AS DOUBLE) / n)) / (n - 1) > 0
      |    THEN round(sqrt((CAST(smm AS DOUBLE)
      |                     - n * (CAST(sm AS DOUBLE) / n)
      |                          * (CAST(sm AS DOUBLE) / n)) / (n - 1)) / 1000000, 6)
      |    ELSE CAST(0.0 AS DOUBLE) END AS std_norm,
      |  round(CAST(mn AS DOUBLE) / 1000000, 6) AS min_norm,
      |  round(CAST(mx AS DOUBLE) / 1000000, 6) AS max_norm,
      |  n_zero, n_nonfinite
      |FROM agg""".stripMargin

  // ---------------------------------------------------------------- qe28
  /** PCA dimensionality reduction: project the 64-dim embeddings onto
    * the top-8 principal components — the offline compression step
    * before clustering/visualization sweeps (and the classical
    * alternative to the learned PQ codebooks of qe14). The fit is
    * [[pcaFit]] (one distributed covariance pass, a driver eigensolve);
    * the projection is the map-only [[pcaProject]] that [[qe28b]] runs
    * against the persisted basis.
    *
    * No SQL oracle for the fused fit+transform (eigenvectors are
    * engine-side state, like the qe2 hyperplanes); SketchSpec grades
    * the linear-algebra contract instead: component orthonormality,
    * non-increasing explained variance, projection-norm bounds,
    * partitioning invariance, and agreement with Spark ML's PCA. The
    * PROBE path against the persisted basis, [[qe28b]], IS hash-match
    * oracle-checked.
    */
  def qe28(s: SparkSession, dir: String): DataFrame =
    pcaProject(s, dir, pcaFit(s, dir, 8).components.toSeq.map(_.toSeq))

  /** The top-`k` principal components of the embeddings
    * ([[PrincipalComponents.fit]]). Scale: one treeAggregate pass,
    * O(d²) state per partition, O(d³) driver eigensolve; no vector is
    * collected to the driver.
    */
  def pcaFit(s: SparkSession, dir: String, k: Int): PrincipalComponents.Fit =
    PrincipalComponents.fit(embs(s, dir).select("vec"), k)

  /** `pc<i>` = the 6dp-rounded dot of each raw (uncentered) embedding
    * with component i: 8 codegen'd dot products per row, no shuffle.
    */
  private def pcaProject(s: SparkSession, dir: String, comps: Seq[Seq[Double]]): DataFrame =
    embs(s, dir).select(col("vec_id") +: comps.zipWithIndex.map { case (c, i) =>
      dround(dot(col("vec"), typedLit(c)), 6).as(s"pc$i") }: _*)

  // --------------------------------------------------------------- qe28b
  /** PCA PROBE path with a full hash-match oracle:
    * the fitted basis is a persisted offline artifact (the qe5b/qd6b
    * lifecycle), and the PROJECTION stage — the per-row work a pipeline
    * actually runs — is a pure deterministic matrix multiply against
    * it, so it IS DuckDB-checkable. The build writes the 8×64 basis
    * twice: as parquet (the engine-side artifact qe28b reads) and as a
    * full-precision E-notation JSON sidecar that [[qe28bOracle]]
    * inlines into the oracle SQL as literal DOUBLE lists at dump time —
    * both engines then dot the SAME binary64 components over the same
    * element order, and the 6dp-rounded projections hash-match. The
    * FIT itself stays invariant-graded in SketchSpec (eigenvectors are
    * engine-side state, like qe2's hyperplanes and the PQ codebooks).
    *
    * Scale: the build is [[pcaFit]] (one treeAggregate pass, O(d²) per
    * partition, O(d³) driver eigensolve) run OFFLINE once, plus one
    * single-file parquet write; the probe path is a map-only projection
    * (8 codegen'd dot products per row) — no shuffle at all.
    */
  def pcaIndexPath(dir: String): String =
    HadoopFs.indexPath("pca", dir, 8)

  private val PcaBasisSchema = StructType(Seq(
    StructField("pc_id", IntegerType, nullable = false),
    StructField("cvec", ArrayType(DoubleType, containsNull = false))))

  def pcaBuild(s: SparkSession, dir: String, path: String): Unit = {
    val comps = pcaFit(s, dir, 8).components
    new java.io.File(path).mkdirs()
    // %.17e round-trips binary64 exactly AND parses as a DOUBLE (not
    // DECIMAL) literal in DuckDB; sidecar first, basis (the witness) last
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/basis.json"),
      comps.map(_.map(v =>
          String.format(java.util.Locale.ROOT, "%.17e", Double.box(v)))
        .mkString("[", ",", "]")).mkString("[", ",", "]"))
    // rows against an explicit schema: no reflection-derived encoder
    val rows = comps.zipWithIndex.map { case (c, i) => Row(i, c.toSeq) }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), PcaBasisSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/basis")
  }

  val Pca: PersistedIndex =
    PersistedIndex("pca", "embeddings", "basis", pcaIndexPath, pcaBuild)

  def qe28b(s: SparkSession, dir: String): DataFrame = {
    registerNative(s)
    val basis = HadoopFs.parquet(s, s"${Pca.ensure(s, dir)}/basis").collect()
      .sortBy(_.getInt(0)).toSeq.map(_.getSeq[Double](1))
    pcaProject(s, dir, basis)
  }

  /** The three gated-twin oracles, generated AT DUMP TIME with the SAME
    * resolved budget the production build used for this corpus: when
    * Verify threads a concrete sf dir, the budget is
    * [[GateRule.resolved]], memoized per JVM, so the engine run earlier
    * in the same Verify process built against the identical number. With
    * no dir (SparkEntry.oracleSql) the documented constant is
    * interpolated, matching the no-curve fallback build.
    */
  def gateOracle(sfDir: Option[String]): Map[String, String] = {
    val gcand = GateRule.ctes(sfDir.fold(GateMassFrac)(GateRule.resolved))
    Map(
      "qe15c_massgated_density" -> densityTailSql(gcand),
      "qe22c_massgated_mutual_nn" -> mutualTailSql(gcand),
      "qe25c_massgated_confusion" -> confusionTailSql(gcand))
  }

  /** The qe28b oracle, generated AT DUMP TIME from the persisted
    * sidecar of the sf dir Verify ran (the basis is runtime state, so
    * this SQL cannot be a compile-time constant — Verify threads the
    * dir through SparkEntry.oracleSqlFor). Empty until a build exists:
    * the driver then records the weaker rows-only check rather than a
    * false failure.
    */
  def qe28bOracle(sfDir: Option[String]): Map[String, String] =
    sfDir.map(d => java.nio.file.Paths.get(s"${pcaIndexPath(d)}/basis.json"))
      .filter(java.nio.file.Files.exists(_))
      .map { p =>
        val comps = java.nio.file.Files.readString(p)
          .stripPrefix("[[").stripSuffix("]]").split("\\],\\[")
        val cols = comps.zipWithIndex.map { case (c, i) =>
          s"round(list_dot_product(vec, [$c]), 6) AS pc$i" }
          .mkString(",\n       ")
        Map("qe28b_pca_probe" ->
          s"""WITH e AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
             |  FROM embeddings)
             |SELECT vec_id,
             |       $cols
             |FROM e""".stripMargin)
      }.getOrElse(Map.empty)

  // ---------------------------------------------------------------- qe29
  /** Dimension-truncation retrieval sweep (the Matryoshka question): at
    * each prefix length d ∈ {8,16,32,64}, run the exact cosine top-K on
    * the FIRST d dimensions only and measure overlap with the full-dim
    * top-K — how much retrieval quality survives storing a prefix. The
    * d = 64 row is the full search, so its recall is 1.0 by
    * construction. Every stage is deterministic (zero-norm prefixes pin
    * cosine to -1), so the whole sweep is DuckDB-oracle-graded —
    * unlike qe26's quantizer sweep, nothing here is engine-side state.
    *
    * Scale: per d, the same broadcast-queries scan shape as qe1; the
    * sweep is the offline study that picks a stored prefix length
    * before committing 8x less vector storage.
    */
  def qe29(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select("vec_id", "vec").localCheckpoint()
    def topAt(d: Int): DataFrame = {
      val vd = slice(col("vec"), 1, d)
      val base = e.select(col("vec_id"), vd.as("vd"),
        sqrt(aggregate(transform(vd, x => x * x), lit(0.0), (a, x) => a + x))
          .as("nd"))
      val q = base.filter(col("vec_id") < NQUERIES)
        .select(col("vec_id").as("query_id"), col("vd").as("qd"), col("nd").as("qn"))
      base.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("cos",
          when(col("qn") * col("nd") === 0, lit(-1.0))
            .otherwise(dround(
              aggregate(zip_with(col("qd"), col("vd"), (x, y) => x * y),
                lit(0.0), (a, x) => a + x) / (col("qn") * col("nd")), 6)))
        .withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)))
        .filter(col("rn") <= K)
        .select(lit(d).as("dim"), col("query_id"), col("vec_id").as("neighbor_id"))
    }
    val tops = Seq(8, 16, 32, 64).map(topAt).reduce(_.unionByName(_))
    val full = tops.filter(col("dim") === 64)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    tops.join(full, Seq("query_id", "neighbor_id"), "left")
      .groupBy("dim")
      .agg(count(lit(1)).as("n_ret"), sum(coalesce(col("hit"), lit(0))).as("hits"))
      .select(col("dim"),
        dround(col("hits") / col("n_ret"), 6).as("recall"))
  }

  private val qe29Sql =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |dims AS (SELECT unnest([8, 16, 32, 64]) AS dim),
       |scored AS (
       |  SELECT dim, q.vec_id AS query_id, d.vec_id AS neighbor_id,
       |    CASE WHEN sqrt(list_dot_product(q.vec[1:dim], q.vec[1:dim]))
       |              * sqrt(list_dot_product(d.vec[1:dim], d.vec[1:dim])) = 0
       |      THEN CAST(-1.0 AS DOUBLE)
       |      ELSE round(list_dot_product(q.vec[1:dim], d.vec[1:dim])
       |                 / (sqrt(list_dot_product(q.vec[1:dim], q.vec[1:dim]))
       |                    * sqrt(list_dot_product(d.vec[1:dim], d.vec[1:dim]))), 6)
       |      END AS cos
       |  FROM e q CROSS JOIN e d CROSS JOIN dims
       |  WHERE q.vec_id < $NQUERIES AND d.vec_id <> q.vec_id),
       |top AS (
       |  SELECT dim, query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY dim, query_id
       |                                 ORDER BY cos DESC, neighbor_id) AS rn
       |    FROM scored) WHERE rn <= $K),
       |full5 AS (SELECT query_id, neighbor_id FROM top WHERE dim = 64)
       |SELECT t.dim AS dim,
       |       round(CAST(count(f.neighbor_id) AS BIGINT)
       |             / CAST(count(*) AS BIGINT), 6) AS recall
       |FROM top t
       |LEFT JOIN full5 f
       |  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
       |GROUP BY t.dim""".stripMargin

  // ---------------------------------------------------------------- qe30
  /** Silhouette score per cluster over the oracle-exact qe9 k-means
    * assignment: a(i) = mean squared-L2 to own-cluster members, b(i) =
    * min over other clusters of the mean to that cluster, s(i) =
    * (b-a)/max(a,b) — the canonical internal clustering-quality eval
    * (squared-euclidean variant), reported as per-cluster means.
    * Per-pair distances use the SAME rounded dot-identity as the
    * assignment and quantize to 1e-6 integers, so every mean divides
    * exact longs and no float accumulation order can flip a row.
    * Singleton clusters pin s = 0 (the standard convention), as does a
    * degenerate max(a,b) = 0.
    *
    * Scale: the exact all-pairs base is the oracle anchor (qe15's
    * class); production gates pairs through the cluster equi-join
    * (a exactly, b against sampled or centroid-approximated clusters).
    */
  def qe30(s: SparkSession, dir: String): DataFrame =
    silhouetteFrom(kmeansAssign(s, dir).select(col("vec_id"), col("cid"), col("vec"))
      .localCheckpoint())

  /** Frame-parameterized twin (tests plant assignments): (vec_id, cid,
    * vec) in, per-cluster (n, mean_silhouette) out.
    */
  private[graft] def silhouetteFrom(asg: DataFrame): DataFrame = {
    val x = asg.select(col("vec_id").as("i"), col("cid").as("ci"), col("vec").as("vi"))
    val y = asg.select(col("vec_id").as("j"), col("cid").as("cj"), col("vec").as("vj"))
    val d2 = dround(dot(col("vi"), col("vi")) - lit(2.0) * dot(col("vi"), col("vj"))
      + dot(col("vj"), col("vj")), 6)
    val grp = x.join(y, col("i") =!= col("j"))
      .select(col("i"), col("ci"), col("cj"),
        dround(d2 * 1e6, 0).cast("long").as("micro"))
      .groupBy("i", "ci", "cj")
      .agg(sum("micro").as("sm"), count(lit(1)).as("cnt"))
      .withColumn("mean_d", dround(col("sm").cast("double") / col("cnt") / 1e6, 6))
    val aDf = grp.filter(col("ci") === col("cj"))
      .select(col("i"), col("mean_d").as("a"))
    val bDf = grp.filter(col("ci") =!= col("cj"))
      .groupBy("i").agg(min("mean_d").as("b"))
    asg.select(col("vec_id").as("i"), col("cid"))
      .join(aDf, Seq("i"), "left")
      .join(bDf, Seq("i"), "left")
      .withColumn("sil",
        when(col("a").isNull || col("b").isNull, lit(0.0))
          .when(greatest(col("a"), col("b")) === 0, lit(0.0))
          .otherwise(dround((col("b") - col("a")) / greatest(col("a"), col("b")), 6)))
      .withColumn("smicro", dround(col("sil") * 1e6, 0).cast("long"))
      .groupBy(col("cid").as("cluster_id"))
      .agg(count(lit(1)).as("n"),
        dround(sum("smicro").cast("double") / count(lit(1)) / 1e6, 6)
          .as("mean_silhouette"))
  }

  private val qe30Sql =
    s"""$kmeansCtes,
       |pair AS (
       |  SELECT x.vec_id AS i, x.cid AS ci, y.cid AS cj,
       |    CAST(round(round(list_dot_product(x.vec, x.vec)
       |                     - 2 * list_dot_product(x.vec, y.vec)
       |                     + list_dot_product(y.vec, y.vec), 6) * 1000000)
       |         AS BIGINT) AS micro
       |  FROM asg x JOIN asg y ON x.vec_id <> y.vec_id),
       |grp AS (
       |  SELECT i, ci, cj, CAST(sum(micro) AS BIGINT) AS sm,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM pair GROUP BY 1, 2, 3),
       |md AS (SELECT i, ci, cj,
       |              round(CAST(sm AS DOUBLE) / cnt / 1000000, 6) AS mean_d
       |       FROM grp),
       |aa AS (SELECT i, mean_d AS a FROM md WHERE ci = cj),
       |bb AS (SELECT i, min(mean_d) AS b FROM md WHERE ci <> cj GROUP BY i),
       |sil AS (
       |  SELECT asg.vec_id AS i, asg.cid AS cid,
       |    CASE WHEN aa.a IS NULL OR bb.b IS NULL THEN CAST(0.0 AS DOUBLE)
       |         WHEN greatest(aa.a, bb.b) = 0 THEN CAST(0.0 AS DOUBLE)
       |         ELSE round((bb.b - aa.a) / greatest(aa.a, bb.b), 6) END AS s
       |  FROM asg
       |  LEFT JOIN aa ON asg.vec_id = aa.i
       |  LEFT JOIN bb ON asg.vec_id = bb.i)
       |SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n,
       |  round(CAST(sum(CAST(round(s * 1000000) AS BIGINT)) AS DOUBLE)
       |        / count(*) / 1000000, 6) AS mean_silhouette
       |FROM sil GROUP BY cid""".stripMargin

  // --------------------------------------------------------------- qe31
  /** Greedy k-center coreset (Gonzalez farthest-first traversal): start
    * from the smallest vec_id, then K-1 times pick the point farthest
    * (squared L2, 1e-6-quantized) from the selected set — the classic
    * 2-approximation coverage coreset used for data selection, active
    * learning seeds, and diverse eval panels. Output: each pick with
    * its selection rank and its distance-to-set at pick time (the
    * greedy coverage radius, non-increasing by construction).
    *
    * Exactness: distances quantize at 6dp BEFORE the argmax and ties
    * break to the smaller vec_id, so both engines traverse identically;
    * an already-selected point's self-distance is exactly 0.0 in IEEE
    * ((a - 2a) + a), never re-picked while any point is uncovered.
    *
    * Scale: K passes, each a map-only distance-min against the
    * driver-held selected set (K × dim doubles, the qe9 centroid
    * pattern) feeding a distributed TakeOrdered(1) — the corpus never
    * shuffles; the oracle unrolls the same K selections as CTEs.
    */
  def qe31(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embs(s, dir).select("vec_id", "vec").cache()
    try {
      val first = e.orderBy(col("vec_id").asc).limit(1).collect()(0)
      var centers = Vector[(Long, Seq[Double], Option[Double])](
        (first.getLong(0), first.getSeq[Double](1), None))
      while (centers.size < K) {
        val dmin = array_min(array(centers.map { case (_, c, _) =>
          dround(dot(col("vec"), col("vec"))
            - lit(2.0) * dot(col("vec"), typedLit(c))
            + lit(c.map(x => x * x).sum), 6)
        }: _*))
        val pick = e.withColumn("d", dmin)
          .orderBy(col("d").desc, col("vec_id").asc).limit(1)
          .select("vec_id", "vec", "d").collect()(0)
        centers :+= ((pick.getLong(0), pick.getSeq[Double](1),
          Some(pick.getDouble(2))))
      }
      centers.zipWithIndex
        .map { case ((id, _, d), i) => (i + 1, id, d) }
        .toDF("sel_rank", "vec_id", "dist_at_pick")
    } finally { e.unpersist(); () }
  }

  private val qe31Sql = {
    // one selection step: dNext folds the new center's distance into the
    // running min; cN takes the quantized argmax with the id tiebreak
    def dist(v: String, c: String) =
      s"round(list_dot_product($v, $v) - 2 * list_dot_product($v, $c) " +
        s"+ list_dot_product($c, $c), 6)"
    val steps = (2 to K).map { i =>
      val (dp, dn, cn) = (s"d${i - 1}", s"d$i", s"c$i")
      s"""$cn AS (SELECT vec_id, vec, d FROM $dp ORDER BY d DESC, vec_id LIMIT 1),
         |$dn AS (SELECT p.vec_id, p.vec, least(p.d, ${dist("p.vec", "c.vec")}) AS d
         |        FROM $dp p, $cn c)""".stripMargin
    }.mkString(",\n")
    val rows = (2 to K)
      .map(i => s"UNION ALL SELECT $i, vec_id, d FROM c$i").mkString("\n")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |c1 AS (SELECT vec_id, vec FROM e ORDER BY vec_id LIMIT 1),
       |d1 AS (SELECT e.vec_id, e.vec, ${dist("e.vec", "c.vec")} AS d
       |       FROM e, c1 c),
       |$steps
       |SELECT CAST(1 AS INT) AS sel_rank, vec_id,
       |       CAST(NULL AS DOUBLE) AS dist_at_pick
       |FROM c1
       |$rows""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qe1_cosine_topk" -> (qe1 _),
    "qe2_ann_lsh" -> (qe2 _),
    "qe3_knn_label" -> (qe3 _),
    "qe4_embedding_dedup" -> (qe4 _),
    "qe4b_embedding_dedup_lsh" -> (qe4b _),
    "qe4c_embedding_dedup_lsh_t08" -> (qe4c _),
    "qe5_ann_ivf" -> (qe5 _),
    "qe5b_ann_ivf_probe" -> (qe5b _),
    "qe6_quantized_topk" -> (qe6 _),
    "qe7_truncated_rerank" -> (qe7 _),
    "qe8_dup_clusters" -> (qe8 _),
    "qe9_kmeans_assign" -> (qe9 _),
    "qe10_semantic_dedup" -> (qe10 _),
    "qe11_leakage_split" -> (qe11 _),
    "qe12_mmr_topk" -> (qe12 _),
    "qe13_hard_negatives" -> (qe13 _),
    "qe14_pq_ann" -> (qe14 _),
    "qe14b_pq_probe" -> (qe14b _),
    "qe15_knn_density" -> (qe15 _),
    "qe15c_massgated_density" -> (qe15c _),
    "qe22c_massgated_mutual_nn" -> (qe22c _),
    "qe25c_massgated_confusion" -> (qe25c _),
    "qe16_cluster_sample" -> (qe16 _),
    "qe17_retrieval_metrics" -> (qe17 _),
    "qe18_prototypes" -> (qe18 _),
    "qe19_binary_ann" -> (qe19 _),
    "qe20_ivf_pq" -> (qe20 _),
    "qe21_rocchio_feedback" -> (qe21 _),
    "qe22_mutual_nn_pairs" -> (qe22 _),
    "qe23_centroid_matrix" -> (qe23 _),
    "qe24_segment_merge_topk" -> (qe24 _),
    "qe25_knn_confusion" -> (qe25 _),
    "qe26_probe_sweep" -> (qe26 _),
    "qe27_embedding_health" -> (qe27 _),
    "qe28_pca_projection" -> (qe28 _),
    "qe28b_pca_probe" -> (qe28b _),
    "qe29_dim_truncation_sweep" -> (qe29 _),
    "qe30_silhouette" -> (qe30 _),
    "qe31_kcenter_coreset" -> (qe31 _),
  )

  val oracle: Map[String, String] = Map(
    "qe1_cosine_topk" -> qe1Sql,
    // md5 closed-form hyperplanes make the banding SQL-replicable
    // — qe2/qe4b hash-match transparent-model oracles (candidates
    // included); the RecallSpec floors vs the exact twins stay as the
    // approximation-quality artifact on top
    "qe2_ann_lsh" -> qe2Sql,
    "qe3_knn_label" -> qe3Sql,
    "qe4_embedding_dedup" -> qe4Sql,
    "qe4b_embedding_dedup_lsh" -> qe4bSql,
    // qe4c: at t=0.8 the exact twin IS a safe oracle — no pair in this
    // corpus is within 0.2 of the threshold (max cos 0.60), so the
    // agreement checked is the no-dup contract, with planted-duplicate
    // power asserted in TextVectorSpec.
    "qe4c_embedding_dedup_lsh_t08" -> qe4SqlAt("0.8"),
    "qe6_quantized_topk" -> qe6Sql,
    "qe7_truncated_rerank" -> qe7Sql,
    "qe8_dup_clusters" -> qe8Sql,
    "qe9_kmeans_assign" -> qe9Sql,
    "qe10_semantic_dedup" -> qe10Sql,
    "qe11_leakage_split" -> qe11Sql,
    "qe12_mmr_topk" -> qe12Sql,
    "qe13_hard_negatives" -> qe13Sql,
    "qe15_knn_density" -> qe15Sql,
    // the IVF quantizer is the same deterministic fit, so
    // the fused and persisted-probe paths hash-match one oracle, and
    // even the probe-sweep tuning curve is SQL-checkable
    "qe5_ann_ivf" -> qe5Sql,
    "qe5b_ann_ivf_probe" -> qe5Sql,
    "qe26_probe_sweep" -> qe26Sql,
    // 6dp-rounded PQ fit means make the codebooks engine-identical
    // and the rest of the chain is order-matched binary64 — so the PQ
    // family (fused, persisted-probe, and the IVFADC composition) all
    // hash-match SQL replications
    "qe14_pq_ann" -> qe14Sql,
    "qe14b_pq_probe" -> qe14Sql,
    "qe20_ivf_pq" -> qe20Sql,
    "qe16_cluster_sample" -> qe16Sql,
    "qe17_retrieval_metrics" -> qe17Sql,
    "qe18_prototypes" -> qe18Sql,
    "qe19_binary_ann" -> qe19Sql,
    "qe21_rocchio_feedback" -> qe21Sql,
    "qe22_mutual_nn_pairs" -> qe22Sql,
    "qe23_centroid_matrix" -> qe23Sql,
    "qe24_segment_merge_topk" -> qe24Sql,
    "qe25_knn_confusion" -> qe25Sql,
    "qe27_embedding_health" -> qe27Sql,
    "qe29_dim_truncation_sweep" -> qe29Sql,
    "qe30_silhouette" -> qe30Sql,
    "qe31_kcenter_coreset" -> qe31Sql,
    // The only vector-family rows NOT in this map: qe28 (eigenbasis —
    // by design; its qe28b probe twin IS hash-checked), and qe28b,
    // which is oracle-checked but joins via SparkEntry.oracleSqlFor
    // because its SQL inlines the persisted runtime basis (see
    // qe28bOracle). Every approximate operator above hash-matches its
    // full candidate-generation chain; RecallSpec floors sit
    // on top as the approximation-quality artifact.
  )
}
