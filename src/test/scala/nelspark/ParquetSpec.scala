package nelspark

import nelspark.store.SnapshotStore
import nelspark.util.Parquet
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The driver-side footer reader: the schema inference gives, without the
  * inference job. */
class ParquetSpec extends SparkSpec {

  private val sfTables = for {
    sf <- Seq("sf0.01", "sf0.001")
    t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
  } yield s"/root/testdata/$sf/$t.parquet"

  test("Parquet.read has spark.read.parquet's schema: sf tables, Spark-written nested fields, a snapshot") {
    val nested = s"${tempDir("parquet_spec")}/nested.parquet"
    val schema = new StructType()
      .add("id", LongType, nullable = false)
      .add("name", StringType)
      .add("point", new StructType().add("x", DoubleType, nullable = false).add("tag", StringType),
        nullable = false)
      .add("terms", ArrayType(new StructType().add("t", StringType).add("n", IntegerType), false))
      .add("counts", MapType(StringType, LongType))
    val rows = Seq(Row(1L, "a", Row(0.5, "p"), Seq(Row("x", 2)), Map("k" -> 3L)),
      Row(2L, null, Row(1.5, null), Seq.empty[Row], null))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.parquet(nested)

    val (_, snapshot) = new SnapshotStore(spark, tempDir("parquet_spec"))
      .commit("s", spark.range(10).selectExpr("id", "cast(id as string) as s"), conf = "c")
    val snapshotDir = snapshot.inputFiles.head.replaceAll("/part-[^/]*$", "")

    for (p <- sfTables :+ nested :+ snapshotDir)
      assert(Parquet.read(spark, p).schema == spark.read.parquet(p).schema, p)
    assert(Parquet.read(spark, nested).collect().sortBy(_.getLong(0)).toSeq == rows)
  }

  test("Parquet.read launches no job; spark.read.parquet launches its inference job") {
    val p = "/root/testdata/sf0.01/orders.parquet"
    assert(countJobs(Parquet.read(spark, p))._2 == 0)
    assert(countJobs(spark.read.parquet(p))._2 == 1)
  }

  test("building sf0.01 queries launches no job") {
    for (q <- Seq("q_tfidf", "q_term_df", "q_join_dim", "q_set_except", "q_candidates_ctx")) {
      val (_, jobs) = jobDescriptions(graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.01"))
      assert(jobs.isEmpty, s"$q: $jobs")
    }
  }
}
