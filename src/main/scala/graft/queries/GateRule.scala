package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.registerNative
import graft.sources.{HadoopFs, PersistedIndex}

/** The probe rule of the ANN gate (qe15c/qe22c/qe25c): the production
  * quantizer (K = ⌈√n⌉ cells, [[VectorQueries.gateFitCents]]), argmin
  * home cells, a mass-budgeted probe, the cell-id equi-join and the 6dp
  * cosine scoring. Each vector probes its distance-ranked cells until
  * the cumulative HOME MASS of the cells already taken reaches
  * ⌈massFrac·n⌉ (the nearest cell is always taken). That pins the
  * scanned fraction by construction, to within the last cell's
  * overshoot, on balanced and mass-skewed fits alike. The budget is
  * [[GateCurve]]-sized, else [[VectorQueries.GateMassFrac]].
  */
object GateRule {
  import VectorQueries.{GateFitIters, GateFitPerCell}

  /** Persisted-index family (`index:gatemass` in Bench). */
  val family = "gatemass"

  /** (cid, idb): every vector in its argmin cell. */
  private[graft] def homes(e: DataFrame, ranked: Column): DataFrame =
    e.withColumn("cid", array_min(ranked).getField("cid"))
      .select(col("cid"), col("vec_id").as("idb"))

  /** (cid, ida): the cells each vector probes. `ranked` is its
    * (distance, cid) array over the `cells` centroids, `home` the
    * (cid, idb) home frame.
    *
    * The cut is map-only: the per-cell home-mass table is K rows,
    * collected once and inlined as an array literal indexed by cell id,
    * and each vector's ranked cell list is cut by a running-sum
    * `aggregate` over its own sorted candidate array inside the
    * projection. No Exchange sits between probe assignment and the
    * candidate equi-join (PlanSpec pins the build plan Window-free).
    * Empty cells carry zero mass and zero candidates, so keeping them
    * in the cut changes no scored row.
    */
  private def probed(e: DataFrame, ranked: Column, home: DataFrame, cells: Int,
      budget: Double, n: Long): DataFrame = {
    val massByCid = new Array[Long](cells)
    home.groupBy("cid").agg(count(lit(1)).as("mass"))
      .collect().foreach(r => massByCid(r.getInt(0)) = r.getLong(1))
    val cut = math.max(1L, math.ceil(budget * n).toLong)
    val mlit = typedLit(massByCid.toSeq)
    // running cut over the sorted (distance, cid) array: the rk=1 home
    // cell is always taken (empty keep list), then a cell is kept while
    // the cumulative home mass BEFORE it is under the budget
    val kept = aggregate(
      array_sort(ranked),
      struct(lit(0L).as("cum"), typedLit(Seq.empty[Int]).as("keep")),
      (acc, x) => struct(
        (acc.getField("cum") + element_at(mlit, x.getField("cid") + 1)).as("cum"),
        when(size(acc.getField("keep")) === 0 || acc.getField("cum") < cut,
          concat(acc.getField("keep"), array(x.getField("cid"))))
          .otherwise(acc.getField("keep")).as("keep")),
      acc => acc.getField("keep"))
    e.select(col("vec_id").as("ida"), explode(kept).as("cid"))
      .select("cid", "ida")
  }

  /** The budget production builds with for a corpus: the cheapest value
    * its current curve certifies at [[VectorQueries.GateRecallTarget]],
    * else [[VectorQueries.GateMassFrac]]. Escalating to a budget the
    * curve does not certify would silently miss the target, so the
    * fallback is the documented constant, not the largest swept value.
    * Memoized per corpus ([[GateCurve.resolved]]).
    */
  def resolved(dir: String): Double = GateCurve.resolved(dir)

  /** Directed, labeled, cosine-scored candidate frame
    * (ida, la, idb, lb, cos) at `budget` over a fitted quantizer: idb's
    * home cell is among ida's probed cells. Map-only probe/home
    * assignment (broadcast centroids), one equi-join on the cell id.
    */
  def candsWith(e: DataFrame, cents: Array[(Int, Seq[Double])], budget: Double,
      n: Long): DataFrame = {
    val ranked = VectorQueries.centroidCands(cents)
    val home = homes(e, ranked)
    VectorQueries.gateScoreCands(e,
      probed(e, ranked, home, cents.map(_._1).max + 1, budget, n), home)
  }

  /** The candidate frame at production sizing (K = ⌈√n⌉, budget
    * [[resolved]]): what [[index]] persists and PlanSpec pins.
    */
  def cands(s: SparkSession, dir: String): DataFrame = {
    val e = VectorQueries.embs(s, dir)
    val n = Tables.embeddings(s, dir).count()
    candsWith(e, VectorQueries.gateFitCents(e, VectorQueries.gateK(n), n), resolved(dir), n)
  }

  /** The persisted candidate frame, built once and read by all three
    * gated tails. Tmpdir-keyed (the data roots are read-only) and
    * fingerprinted on the resolved budget and the fit parameters, so a
    * re-sized build never shares a directory with the old one: the old
    * index is orphaned, never served.
    */
  val index: PersistedIndex = PersistedIndex(family, "embeddings", "cands",
    dir => HadoopFs.indexPath(
      family, dir, GateCurve.show(resolved(dir)), GateFitIters, GateFitPerCell, "sqrtK"),
    (s, dir, path) => cands(s, dir).write.mode("overwrite").parquet(s"$path/cands"))

  /** The persisted candidate frame, built first when stale. */
  def read(s: SparkSession, dir: String): DataFrame = {
    // the probe path may never touch embs(), so register the native
    // cosine/dot functions explicitly (same contract as qe5b)
    registerNative(s)
    HadoopFs.parquet(s, s"${index.ensure(s, dir)}/cands")
  }

  /** DuckDB CTE chain replicating [[cands]] bit for bit at `budget`: the
    * gate's seeded-Lloyd fit ([[VectorQueries.lloydCtes]] at K = ⌈√n⌉,
    * [[VectorQueries.GateFitIters]] refits) → argmin homes → the
    * mass-budgeted probed cells → cell equi-join → 6dp cosine. Ends at
    * `gcand` = (ida, la, idb, lb, cos), the directed candidate frame, so
    * each twin's tail is its exact anchor's oracle tail verbatim.
    *
    * The probe keeps the window-cumsum formulation (the selected cells
    * are identical to the engine's running cut), its budget computed in
    * DOUBLE on both engines: a bare 0.35 literal is DECIMAL in DuckDB
    * and would ceil differently on FP-edge products.
    *
    * Two assumptions, both true at every oracle scale (sf0.001/0.01/
    * 0.1) and asserted nowhere else, so recorded here: the fit stride
    * is 1 (n ≤ [[VectorQueries.GateFitPerCell]]·K ⇔ n ≤ 64·⌈√n⌉ ⇔
    * n ≤ ~4.2M; the strided fit only engages beyond that), and seed
    * relabeling is by vec_id order (exact for any ids; the row_number
    * form replicates it generally).
    */
  def ctes(budget: Double): String = {
    val fit = VectorQueries.lloydCtes(
      "SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS INT)) AS k FROM e",
      GateFitIters)
    s"""$fit,
       |home AS (
       |  SELECT n.vec_id AS idb, n.label AS lb, n.vec AS vb, n.nrm AS nb, af.cid
       |  FROM af JOIN n ON af.vec_id = n.vec_id WHERE af.rk = 1),
       |mass AS (
       |  SELECT cid, CAST(count(*) AS BIGINT) AS mass
       |  FROM af WHERE rk = 1 GROUP BY cid),
       |bdg AS (
       |  SELECT greatest(1, CAST(ceil(CAST(${GateCurve.show(budget)} AS DOUBLE) * count(*))
       |                          AS BIGINT)) AS b FROM e),
       |ranked AS (
       |  SELECT af.vec_id, af.cid, af.rk,
       |         coalesce(sum(m.mass) OVER (PARTITION BY af.vec_id
       |           ORDER BY af.rk
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS cum_before
       |  FROM af JOIN mass m USING (cid)),
       |probed AS (
       |  SELECT n.vec_id AS ida, n.label AS la, n.vec AS va, n.nrm AS na, r.cid
       |  FROM ranked r JOIN n ON r.vec_id = n.vec_id, bdg
       |  WHERE r.rk = 1 OR r.cum_before < bdg.b),
       |gcand AS (
       |  SELECT ida, la, idb, lb,
       |         round(list_dot_product(va, vb) / (na * nb), 6) AS cos
       |  FROM probed JOIN home USING (cid) WHERE ida <> idb)""".stripMargin
  }
}
