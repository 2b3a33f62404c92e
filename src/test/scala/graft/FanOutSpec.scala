package graft

import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions.col

/** The local file system under another scheme, standing in for `hdfs:` or
  * `s3a:`: `java.io.File` cannot open its URIs, Hadoop can. */
class OtherSchemeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("nelfs:///")
}

class FanOutSpec extends nelspark.SparkSpec {

  test("fanOut sizes a scan on a non-file: file system") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.nelfs.impl", classOf[OtherSchemeFileSystem].getName)
    val dir = java.nio.file.Files.createTempDirectory("nelspark-fanout").toString
    spark.range(100).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(s"nelfs://$dir")
    assert(df.inputFiles.nonEmpty && df.inputFiles.forall(_.startsWith("nelfs:")))
    // one small file is one scan chunk, below the session's parallelism
    val out = SparkEntry.fanOut(df, col("id"))
    assert(out.queryExecution.logical.isInstanceOf[RepartitionByExpression])
    assert(out.count() == 100L)
  }
}
