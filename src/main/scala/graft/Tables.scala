package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the test data's star schema (see
  * TESTDATA.md). A plain parquet relation so Catalyst owns
  * projection/predicate pushdown — callers `.select`/`.filter`
  * declaratively and pruning reaches the scan. The schema is inferred
  * once per version of the table's files ([[graft.sources.HadoopFs.parquet]]),
  * so building a query plan runs no Spark job.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.HadoopFs.parquet(spark, s"$dir/$name.parquet")

  /** CSV variant of a table directory (header row; schema REQUIRED — at
    * data scale `inferSchema` is a full extra pass over the files, so
    * callers supply the contract instead). Filters still push down as
    * data filters; unlike parquet there are no row-group statistics, so
    * parquet remains the scale-preferred format.
    */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** JSON-lines variant (schema required for the same single-pass
    * reason; malformed rows land in `_corrupt_record` when the schema
    * includes it rather than failing the scan).
    */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def lineitem(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = t(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")
}
