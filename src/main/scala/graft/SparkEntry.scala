package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Aggregates every implemented operator's query + DuckDB oracle.
  */
object SparkEntry {
  /** Flagship query (aging report, SURVEY §7.3) on sf0.001;
    * driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.CoreQueries.q06(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.CoreQueries.queries ++
      graft.queries.EventQueries.queries ++
      graft.queries.KpiQueries.queries ++
      graft.queries.TextQueries.queries ++
      graft.queries.VectorQueries.queries ++
      Map[String, (SparkSession, String) => DataFrame](
        "qm1_media_stats" -> ((s, d) => graft.multimodal.Multimodal.mediaStats(s, d)),
        "qm2_frame_sample" -> ((s, d) => graft.multimodal.Multimodal.frameSample(s, d)),
        "qm3_image_decode" -> ((s, d) => graft.multimodal.Multimodal.imageDecode(s, d)),
        "qm4_audio_decode" -> ((s, d) => graft.multimodal.Multimodal.audioDecode(s, d)),
        "qm5_shot_boundaries" -> ((s, d) => graft.multimodal.Multimodal.shotBoundaries(s, d)),
        "qm6_audio_energy" -> ((s, d) => graft.multimodal.Multimodal.audioEnergy(s, d)),
        "qm7_image_phash" -> ((s, d) => graft.multimodal.Multimodal.imagePhash(s, d)),
        "qm8_corruption_scan" -> ((s, d) => graft.multimodal.Multimodal.mediaCorruption(s, d)),
        "qm9_phash_neardup" -> ((s, d) => graft.multimodal.Multimodal.imagePhashNeardup(s, d)))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops (those
    * are covered by ScalaTest invariants instead).
    */
  def oracleSql: Map[String, String] = oracleSqlFor(None)

  /** [[oracleSql]] plus the entries that can only be authored against
    * runtime state of a concrete sf dir (qe28b inlines its persisted
    * PCA basis; the three gated twins interpolate the budget the
    * recall-targeted sizing resolved for that corpus) — Verify threads
    * the dir it ran so the dumped oracle_sql.json carries them. With no
    * dir the gated twins carry the documented constant budget.
    */
  def oracleSqlFor(sfDir: Option[String]): Map[String, String] =
    graft.queries.VectorQueries.qe28bOracle(sfDir) ++
      graft.queries.CoreQueries.oracle ++
      graft.queries.EventQueries.oracle ++
      graft.queries.KpiQueries.oracle ++
      graft.queries.TextQueries.oracle ++
      graft.queries.VectorQueries.oracle ++
      Map(
        "qm1_media_stats" -> graft.multimodal.Multimodal.mediaStatsSql,
        "qm2_frame_sample" -> graft.multimodal.Multimodal.frameSampleSql,
        "qm3_image_decode" -> graft.multimodal.Multimodal.imageDecodeSql,
        "qm4_audio_decode" -> graft.multimodal.Multimodal.audioDecodeSql,
        "qm5_shot_boundaries" -> graft.multimodal.Multimodal.shotBoundariesSql,
        "qm6_audio_energy" -> graft.multimodal.Multimodal.audioEnergySql,
        "qm7_image_phash" -> graft.multimodal.Multimodal.imagePhashSql,
        "qm8_corruption_scan" -> graft.multimodal.Multimodal.mediaCorruptionSql,
        "qm9_phash_neardup" -> graft.multimodal.Multimodal.imagePhashNeardupSql) ++
      graft.queries.VectorQueries.gateOracle(sfDir)
}
