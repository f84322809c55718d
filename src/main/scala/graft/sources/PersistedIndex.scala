package graft.sources

import org.apache.spark.sql.SparkSession

/** One persisted index family: a tmpdir artifact built from one source
  * table (`documents` or `embeddings`) of a data dir, then served to
  * every later read until that table changes.
  *
  * Two rules keep a reader from serving a broken or outdated index:
  *  - `witness` names the part `build` writes LAST, so a build that dies
  *    between two writes leaves an index that reads as stale;
  *  - the index is fresh only when the witness's `_SUCCESS` is strictly
  *    newer than the source's newest file. A tie rebuilds, because
  *    mtime granularity can be a full second ([[HadoopFs.indexStale]]).
  */
final case class PersistedIndex(
    name: String,
    source: String,
    witness: String,
    path: String => String,
    build: (SparkSession, String, String) => Unit) {

  private def freshAt(s: SparkSession, dir: String, p: String): Boolean =
    !HadoopFs.indexStale(s.sparkContext.hadoopConfiguration,
      s"$p/$witness", s"$dir/$source.parquet")

  def fresh(s: SparkSession, dir: String): Boolean = freshAt(s, dir, path(dir))

  /** One staleness probe, a build if stale; returns the index path. */
  def ensure(s: SparkSession, dir: String): String = {
    val p = path(dir)
    if (!freshAt(s, dir, p)) build(s, dir, p)
    p
  }
}

object PersistedIndex {
  import graft.queries.{GateRule, TextQueries => T, VectorQueries => V}

  /** Every family, in the order an offline pre-build runs them (ivf and
    * pq before ivfpq, which merges them).
    */
  lazy val all: Seq[PersistedIndex] =
    Seq(V.Ivf, T.Minhash, T.Bm25, V.Pq, V.IvfPq, GateRule.index, V.Pca, T.Bloom)
}
