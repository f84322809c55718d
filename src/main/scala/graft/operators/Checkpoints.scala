package graft.operators

import org.apache.spark.sql.DataFrame

import graft.GraftConf

/** Lineage cuts for iterative operators (PageRank q43, LPA q45, the
  * alternating-star connected-components rounds) and for the range cut
  * of Pareto's two-phase ranks, dispatched by the `graft.checkpoint.dir`
  * session conf:
  *
  *  - conf UNSET (local/test default): `localCheckpoint()` — executor-
  *    memory blocks, zero filesystem setup, exactly what a single-JVM
  *    run wants.
  *  - conf SET to a reliable path (HDFS/S3): `checkpoint()` against
  *    that directory. On a real cluster `localCheckpoint` PINS the
  *    executors holding the blocks — dynamic allocation can't release
  *    them, and losing one executor kills the lineage-truncated frame
  *    with no recompute path. A reliable checkpoint survives executor
  *    loss and leaves allocation free to scale the iteration down.
  *
  * Both shapes are EAGER (materialize now) and truncate lineage, so the
  * iterative plans stay O(1) size per round either way; outputs are
  * bit-identical — only placement/durability of the cut changes
  * (CheckpointSpec pins that equality).
  */
object Checkpoints {

  /** The `graft.checkpoint.dir` value LAST APPLIED per context.
    * `SparkContext.getCheckpointDir` cannot serve as this memo: Spark
    * stores the fs-qualified path of a fresh UUID *subdirectory* of
    * whatever `setCheckpointDir` received, so an equality test against
    * the configured dir never matches and `setCheckpointDir` (mkdirs +
    * new UUID dir) would re-run on every single cut — once per
    * PageRank/LPA/CC iteration.
    */
  // keyed by applicationId, NOT the SparkContext itself: an object-level
  // strong reference would pin every stopped context (and everything it
  // retains) for the JVM's lifetime in session-cycling harnesses
  private val applied =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** One lineage cut, placed per the session's `graft.checkpoint.dir`. */
  def cut(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(GraftConf.checkpointDirKey) match {
      case Some(dir) if dir.trim.nonEmpty =>
        val sc = df.sparkSession.sparkContext
        if (applied.put(sc.applicationId, dir) != dir) sc.setCheckpointDir(dir)
        df.checkpoint()
      case _ => df.localCheckpoint()
    }
}
