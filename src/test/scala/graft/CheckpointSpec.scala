package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Checkpoints, ConnectedComponents, Pareto}

/** The spec [[graft.operators.Checkpoints]]'s scaladoc promises: the
  * `graft.checkpoint.dir` dispatch changes only WHERE a lineage cut is
  * materialized (executor memory vs a reliable filesystem), never what
  * the iterative operators compute. Both arms run here — without this
  * suite the reliable-`checkpoint()` branch is dead code in CI.
  */
class CheckpointSpec extends AnyFunSuite {

  private lazy val spark = SparkSpecBase.spark
  import spark.implicits._

  /** Run `f` with `graft.checkpoint.dir` pointed at a fresh temp dir,
    * restoring the session to the local-checkpoint default afterwards —
    * suites share one session, so a leaked conf would silently flip
    * every later iterative test into reliable mode.
    */
  private def withReliableDir[A](f: String => A): A = {
    val dir = Files.createTempDirectory("graft_ckpt_").toString
    spark.conf.set(GraftConf.checkpointDirKey, dir)
    try f(dir)
    finally spark.conf.unset(GraftConf.checkpointDirKey)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Two chain components and one triangle: the chain forces multiple
    * alternating-star rounds (the shape with the most cut() calls per
    * edge), the triangle exercises cycle edges.
    */
  private def plantedEdges: DataFrame =
    ((0L to 9L).sliding(2).map(w => (w.head, w.last)).toSeq ++
      (20L to 29L).sliding(2).map(w => (w.head, w.last)).toSeq ++
      Seq((40L, 41L), (41L, 42L), (42L, 40L))).toDF("p1", "p2")

  test("pagerankMass: reliable checkpoint() output == localCheckpoint output") {
    val local = rows(queries.CoreQueries.pagerankMass(plantedEdges))
    val reliable = withReliableDir { _ =>
      rows(queries.CoreQueries.pagerankMass(plantedEdges))
    }
    assert(reliable == local,
      "graft.checkpoint.dir must change cut placement, not PageRank output")
  }

  test("connected components (forced star rounds): reliable == local") {
    val verts = (Seq(0L to 9L, 20L to 29L, 40L to 42L).flatten :+ 99L).toDF("id")
    val local = rows(
      ConnectedComponents.clusters(plantedEdges, verts, distributed = Some(true)))
    val reliable = withReliableDir { _ =>
      rows(ConnectedComponents.clusters(plantedEdges, verts, distributed = Some(true)))
    }
    assert(reliable == local,
      "graft.checkpoint.dir must change cut placement, not component labels")
  }

  test("Pareto two-phase ranks: reliable == local, cuts land under the configured dir") {
    import org.apache.spark.sql.functions.col
    // few distinct values, so rank ties and dense groups straddle the
    // range-partition boundaries
    val df = (1L to 40L).map(i => (i, (i % 7).toDouble)).toDF("k", "v").repartition(4)
    def ranked: Seq[Seq[String]] = Seq(
      rows(Pareto.rankBy(df, Seq(col("v").desc, col("k").asc), "rnk")),
      rows(Pareto.denseRankBy(df, Seq(col("v").asc), "dr")),
      rows(Pareto.rankCumBy(df, Seq(col("v").desc, col("k").asc), col("v"),
        "rnk", "cum", "tot", "n")))
    SparkSpecBase.withParetoTwoPhase(true) {
      val local = ranked
      val (reliable, files) = withReliableDir { dir =>
        val r = ranked
        (r, Files.walk(Paths.get(dir)).filter(Files.isRegularFile(_)).count())
      }
      assert(reliable == local,
        "graft.checkpoint.dir must change cut placement, not ranks or sums")
      assert(files > 0,
        "the two-phase range cuts must checkpoint under the configured dir")
    }
  }

  test("cut() with the conf set reliably checkpoints under the configured dir") {
    withReliableDir { dir =>
      val cut = Checkpoints.cut(Seq((1L, 2L), (3L, 4L)).toDF("a", "b"))
      val rdds = cut.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
      assert(rdds.nonEmpty, "an eager checkpoint must surface as a LogicalRDD")
      assert(rdds.forall(_.isCheckpointed),
        "conf set => the reliable checkpoint() arm, materialized eagerly")
      assert(rdds.forall(_.getCheckpointFile.exists(_.contains(dir))),
        s"checkpoint files must land under the configured dir $dir, " +
          s"got ${rdds.flatMap(_.getCheckpointFile)}")
    }
  }

  test("cut() without the conf takes the local arm (no checkpoint files)") {
    val cut = Checkpoints.cut(Seq((1L, 2L)).toDF("a", "b"))
    val rdds = cut.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
    assert(rdds.nonEmpty && rdds.forall(_.getCheckpointFile.isEmpty),
      "conf unset => localCheckpoint (executor blocks, no reliable files)")
  }

  test("setCheckpointDir runs once per configured dir, not once per cut") {
    // getCheckpointDir returns a fresh fs-qualified UUID
    // subdir of what setCheckpointDir received, so the old
    // `getCheckpointDir.contains(dir)` guard never matched and every
    // cut re-ran the mkdirs + UUID allocation. The memoized guard must
    // keep the SAME physical checkpoint dir across consecutive cuts.
    withReliableDir { _ =>
      Checkpoints.cut(Seq((1L, 2L)).toDF("a", "b"))
      val after1 = spark.sparkContext.getCheckpointDir
      Checkpoints.cut(Seq((3L, 4L)).toDF("a", "b"))
      val after2 = spark.sparkContext.getCheckpointDir
      assert(after1.nonEmpty && after1 == after2,
        "consecutive cuts under one configured dir must share one " +
          s"physical checkpoint dir, got $after1 then $after2")
    }
  }
}
