package nelspark

import nelspark.gen.CorpusGen
import nelspark.pipeline.ErConfig
import nelspark.store.{ResumablePipeline, SnapshotStore}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** North-rule resumability: snapshot commit/replay, lineage + metrics
  * tables, identical clusters across resume (SURVEY.md §5.4). */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("nelspark-store").toString

  test("stage snapshots replay instead of recompute; clusters identical across resume") {
    val root = tmpRoot()
    val store = new SnapshotStore(spark, root)
    val gen = CorpusGen.generate(spark, 600L, 120L).cache()
    val pages = CorpusGen.pages(gen)
    val run1 = ResumablePipeline.run(spark, store, pages)
      .as[(Long, Long)].collect().sorted.toSeq

    // all five stages committed exactly once
    val snaps = store.snapshots.get.select("stage", "snapshot_id")
      .as[(String, Long)].collect().toMap
    assert(snaps.keySet == Set("extract", "mentions", "pairs", "edges", "clusters"))
    assert(snaps.values.forall(_ == 1L))

    // resume: no new snapshots, identical output
    val run2 = ResumablePipeline.run(spark, new SnapshotStore(spark, root), pages)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(run2 == run1)
    assert(store.snapshots.get.count() == 5L)

    // partial resume: clusters+edges dropped -> only they recompute
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$root/clusters")).deleteRecursively()
    new Directory(new java.io.File(s"$root/edges")).deleteRecursively()
    val run3 = ResumablePipeline.run(spark, new SnapshotStore(spark, root), pages)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(run3 == run1)
    val after = store.snapshots.get.groupBy("stage").agg(max("snapshot_id").as("m"))
      .as[(String, Long)].collect().toMap
    assert(after("extract") == 1L && after("mentions") == 1L && after("pairs") == 1L)
    assert(after("edges") == 2L && after("clusters") == 2L)
  }

  test("config change invalidates snapshots (conf-hash keyed)") {
    val root = tmpRoot()
    val gen = CorpusGen.generate(spark, 300L, 60L).cache()
    val pages = CorpusGen.pages(gen)
    ResumablePipeline.run(spark, new SnapshotStore(spark, root), pages)
    ResumablePipeline.run(spark, new SnapshotStore(spark, root), pages,
      ErConfig(tau = 0.8))
    val store = new SnapshotStore(spark, root)
    // second config committed its own snapshots
    assert(store.snapshots.get.select("conf").distinct().count() == 2L)
  }

  test("lineage and metrics tables are populated") {
    val root = tmpRoot()
    val store = new SnapshotStore(spark, root)
    val gen = CorpusGen.generate(spark, 300L, 60L).cache()
    ResumablePipeline.run(spark, store, CorpusGen.pages(gen))
    val lin = store.lineage.get
    assert(lin.columns.toSet ==
      Set("stage", "snapshot_id", "partition_id", "rows_in", "rows_out", "wall_ms"))
    assert(lin.filter(col("stage") === "mentions").agg(sum("rows_out")).head().getLong(0) > 0)
    val met = store.metrics.get
    assert(met.filter(col("name") === "n_clusters").count() == 1L)
    assert(met.filter(col("stage") === "pairs").count() >= 4L)
  }

  test("a replay adds no metrics or lineage rows; n_clusters once per clusters snapshot") {
    val root = tmpRoot()
    val gen = CorpusGen.generate(spark, 300L, 60L).cache()
    val pages = CorpusGen.pages(gen)
    val store = new SnapshotStore(spark, root)
    ResumablePipeline.run(spark, store, pages)
    val nMetrics = store.metrics.get.count()
    val nLineage = store.lineage.get.count()

    ResumablePipeline.run(spark, store, pages)
    assert(store.metrics.get.count() == nMetrics)
    assert(store.lineage.get.count() == nLineage)

    // a recomputed clusters stage records its own n_clusters row
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$root/clusters")).deleteRecursively()
    ResumablePipeline.run(spark, store, pages)
    ResumablePipeline.run(spark, store, pages)
    val perSnapshot = store.metrics.get.filter(col("name") === "n_clusters")
      .groupBy("snapshot_id").count().as[(Long, Long)].collect().toMap
    assert(perSnapshot == Map(1L -> 1L, 2L -> 1L))
  }

  test("pairs metrics are recorded under the pairs snapshot id") {
    val root = tmpRoot()
    val gen = CorpusGen.generate(spark, 300L, 60L).cache()
    val pages = CorpusGen.pages(gen)
    val store = new SnapshotStore(spark, root)
    ResumablePipeline.run(spark, store, pages)
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$root/pairs")).deleteRecursively()
    ResumablePipeline.run(spark, store, pages)
    val perSnapshot = store.metrics.get.filter(col("stage") === "pairs")
      .groupBy("snapshot_id").count().as[(Long, Long)].collect().toMap
    assert(perSnapshot == Map(1L -> 4L, 2L -> 4L))
  }

  test("a store rooted at a file: URI finds its log and replays") {
    val root = "file:" + tmpRoot()
    val gen = CorpusGen.generate(spark, 300L, 60L).cache()
    val pages = CorpusGen.pages(gen)
    val run1 = ResumablePipeline.run(spark, new SnapshotStore(spark, root), pages)
      .as[(Long, Long)].collect().sorted.toSeq
    val store = new SnapshotStore(spark, root)
    val n = store.snapshots.get.count()
    val run2 = ResumablePipeline.run(spark, store, pages)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(run2 == run1)
    assert(store.snapshots.get.count() == n)
  }

  test("a replay stays within its Spark job budget and writes no file") {
    val root = tmpRoot()
    val gen = CorpusGen.generate(spark, 300L, 60L).cache()
    val pages = CorpusGen.pages(gen)
    val store = new SnapshotStore(spark, root)
    val committed = ResumablePipeline.run(spark, store, pages)
    def files(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(java.nio.file.Paths.get(root))
      try walk.iterator().asScala.map(_.toString).toSet finally walk.close()
    }
    val before = files()

    val (replayed, jobs) = countJobs(ResumablePipeline.run(spark, store, pages))
    assert(jobs <= 1, s"replay launched $jobs jobs")
    assert(files() == before)
    assert(replayed.schema == committed.schema)
    // snapshots read with their footer schema see what inference sees
    val ch = ResumablePipeline.confHash(ErConfig())
    for (stage <- Seq("extract", "mentions", "pairs", "edges", "clusters")) {
      val (id, df) = store.latest(stage, ch).get
      assert(df.schema == spark.read.parquet(s"$root/$stage/snapshot=$id").schema, stage)
    }
  }
}
