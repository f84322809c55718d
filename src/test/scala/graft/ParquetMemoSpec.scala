package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

import graft.sources.HadoopFs

/** Warm report queries pay for no work they repeat: the parquet schema
  * memo (`HadoopFs.parquet`) starts no Spark job once a table's schema
  * is known, and the generated-class cache sized by
  * `GraftConf.contextDefaults` keeps a repeated pass from recompiling.
  */
class ParquetMemoSpec extends AnyFunSuite {
  import SparkSpecBase.{jobsDuring, spark, sf}

  private val tables = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "events", "documents", "embeddings")

  private def tmpPath(): String =
    java.nio.file.Files.createTempDirectory("graft_memo").resolve("t.parquet").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  test("every Tables table: the memoized read equals a fresh spark.read.parquet") {
    tables.foreach { t =>
      val fresh = spark.read.parquet(s"$sf/$t.parquet")
      // twice: the cold read fills the memo, the warm one reads through it
      Tables.t(spark, sf, t)
      val memo = Tables.t(spark, sf, t)
      assert(memo.schema == fresh.schema, s"$t schema")
      assert(rows(memo) == rows(fresh), s"$t rows")
    }
  }

  test("a second plan construction of a table runs zero Spark jobs") {
    val p = tmpPath()
    spark.range(10).toDF("a").write.parquet(p)
    assert(jobsDuring(HadoopFs.parquet(spark, p).queryExecution.executedPlan) >= 1,
      "the cold construction infers the schema with a job")
    assert(jobsDuring(HadoopFs.parquet(spark, p).queryExecution.executedPlan) == 0)
    tables.foreach(Tables.t(spark, sf, _))
    assert(jobsDuring(tables.foreach(Tables.t(spark, sf, _).queryExecution.executedPlan)) == 0)
  }

  test("a table overwritten at the same path with a different schema is re-inferred") {
    val p = tmpPath()
    spark.range(5).toDF("a").write.parquet(p)
    assert(HadoopFs.parquet(spark, p).schema.map(f => f.name -> f.dataType) == Seq("a" -> LongType))
    spark.range(3).selectExpr("cast(id as string) as b").write.mode("overwrite").parquet(p)
    val again = HadoopFs.parquet(spark, p)
    assert(again.schema.map(f => f.name -> f.dataType) == Seq("b" -> StringType))
    assert(rows(again) == Seq("[0]", "[1]", "[2]"))
  }

  test("flipping spark.sql.parquet.binaryAsString re-infers") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // an unannotated binary column from a non-Spark writer: a Spark-written
    // footer carries the Spark schema, which inference prefers over the flag
    val p = tmpPath()
    val pq = MessageTypeParser.parseMessageType("message m { required binary v; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$p/part-0.parquet"))
      .withType(pq).withConf(spark.sparkContext.hadoopConfiguration).build()
    val g = new SimpleGroupFactory(pq)
    try Seq("0", "1").foreach(v => w.write(g.newGroup().append("v", v))) finally w.close()
    def vType = HadoopFs.parquet(spark, p).schema("v").dataType
    assert(vType == BinaryType)
    SparkSpecBase.withConf("spark.sql.parquet.binaryAsString", "true") {
      assert(vType == StringType)
      assert(rows(HadoopFs.parquet(spark, p)) == Seq("[0]", "[1]"))
    }
    assert(vType == BinaryType)
  }

  test("a repeated pass of the report queries compiles almost no generated class") {
    // the reports workload's seven queries: four report shapes, the
    // iterations cut by Checkpoints.cut, and two persisted-index probes
    val qs = Seq("q01_pricing_summary", "q03_settlement_balance", "q15_collection_buckets",
      "q29_vendor_summary", "q38_basket_rules", "qd6b_minhash_probe", "qe28b_pca_probe")
    def pass(): Unit = qs.foreach(q => SparkEntry.queries(q)(spark, sf).collect())
    pass()
    val (before, _) = Bench.codegenSoFar()
    pass()
    val (after, _) = Bench.codegenSoFar()
    // what remains is q38's classes whose code is new on every run; with
    // Spark's default cache of 100 the second pass recompiles ~80
    assert(after - before <= 10, s"the second pass compiled ${after - before} classes")
  }
}
