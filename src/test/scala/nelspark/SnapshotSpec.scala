package nelspark

import nelspark.gen.CorpusGen
import nelspark.pipeline.{Block, ErConfig}
import nelspark.store.{ResumablePipeline, SnapshotStore}
import org.apache.spark.sql.{Observation, SaveMode}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** North-rule resumability: snapshot commit/replay, lineage + metrics
  * tables, identical clusters across resume (SURVEY.md §5.4). */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String = tempDir("nelspark-store")

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

  test("a recomputed stage recomputes its downstream stages instead of replaying them") {
    val root = tmpRoot()
    val gen = CorpusGen.generate(spark, 300L, 60L).cache()
    val pages = CorpusGen.pages(gen)
    val store = new SnapshotStore(spark, root)
    val run1 = ResumablePipeline.run(spark, store, pages)
      .as[(Long, Long)].collect().sorted.toSeq
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$root/pairs")).deleteRecursively()
    val run2 = ResumablePipeline.run(spark, store, pages)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(run2 == run1)
    val newest = store.snapshots.get
      .groupBy("stage").agg(max(struct("snapshot_id", "input_snapshot")).as("s"))
      .select($"stage", $"s.snapshot_id", $"s.input_snapshot")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(newest("extract") == (1L, -1L) && newest("mentions") == (1L, 1L))
    assert(newest("pairs") == (2L, 1L))
    assert(newest("edges") == (2L, 2L) && newest("clusters") == (2L, 2L))
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
    var input = -1L
    for (stage <- Seq("extract", "mentions", "pairs", "edges", "clusters")) {
      val (id, df) = store.latest(stage, ch, input).get
      assert(df.schema == spark.read.parquet(s"$root/$stage/snapshot=$id").schema, stage)
      input = id
    }
  }

  test("a log of more files than Spark lists on the driver is read in one job") {
    val root = tmpRoot()
    new SnapshotStore(spark, root).commit("s", spark.range(3).toDF(), conf = "c")
    val log = java.nio.file.Paths.get(root, "_snapshots")
    for (i <- 2 to 40) Files.copy(log.resolve("s-1.parquet"), log.resolve(s"s-$i.parquet"))
    val store = new SnapshotStore(spark, root)
    val (_, jobs) = jobDescriptions(store.refresh())
    assert(jobs.size == 1, jobs)
    assert(store.snapshots.get.count() == 40L)
  }

  test("a commit launches exactly the jobs of a plain write of its frame") {
    val store = new SnapshotStore(spark, tmpRoot())
    store.refresh()
    val df = spark.range(0L, 20000L, 1L, 4)
      .groupBy(($"id" % 97).as("k")).agg(count(lit(1)).as("n"))
    val (_, plain) = countJobs(df.write.parquet(s"${tempDir("nelspark-plain")}/out"))
    val (_, committed) = countJobs(store.commit("s", df, "c"))
    assert(committed == plain)
    val facts = Observation()
    val (_, withFacts) = countJobs(
      store.commit("s", df.observe(facts, max("n").as("max_n")), "c", facts = Some(facts)))
    assert(withFacts == plain)
    assert(store.metrics.get.as[(String, Long, String, Double)].collect().toSeq ==
      Seq(("s", 2L, "max_n", df.agg(max("n")).head().getLong(0).toDouble)))
  }

  test("a commit redone after a crash before its log row leaves one set of bookkeeping rows") {
    val root = tmpRoot()
    val gen = CorpusGen.generate(spark, 300L, 60L).cache()
    val pages = CorpusGen.pages(gen)
    ResumablePipeline.run(spark, new SnapshotStore(spark, root), pages)
    def rowsOut(s: SnapshotStore) = s.lineage.get.groupBy("stage", "snapshot_id")
      .agg(count(lit(1)), sum("rows_out")).as[(String, Long, Long, Long)].collect().toSet
    val rowsOut0 = rowsOut(new SnapshotStore(spark, root))
    Files.delete(java.nio.file.Paths.get(s"$root/_snapshots/clusters-1.parquet"))

    val store = new SnapshotStore(spark, root)
    ResumablePipeline.run(spark, store, pages)
    val log = store.snapshots.get.select("stage", "snapshot_id").as[(String, Long)].collect()
    assert(log.sorted.toSeq == Seq("clusters", "edges", "extract", "mentions", "pairs").map(_ -> 1L))
    assert(rowsOut(store) == rowsOut0)
    assert(store.lineage.get.groupBy("stage", "snapshot_id", "partition_id").count()
      .filter($"count" > 1).isEmpty)
    assert(store.metrics.get.filter(col("name") === "n_clusters")
      .select("snapshot_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("observed stage facts equal the queries they replace, on a flat and a hot corpus") {
    for ((seed, nPages, nEntities, hotFrac, hotEntities, cfg) <- Seq(
        (1L, 1000L, 200L, 0.0, 20, ErConfig()),
        (3L, 2000L, 400L, 0.6, 3, ErConfig(ccLocalMax = 5000L)))) {
      val root = tmpRoot()
      val gen = CorpusGen.generate(spark, nPages, nEntities, seed, hotFrac, hotEntities).cache()
      val store = new SnapshotStore(spark, root)
      val clusters = ResumablePipeline.run(spark, store, CorpusGen.pages(gen), cfg)
      val ch = ResumablePipeline.confHash(cfg)
      val (mentionsId, mentions) = store.latest("mentions", ch, 1L).get
      val pairsId = store.latest("pairs", ch, mentionsId).get._1
      val metrics = store.metrics.get.as[(String, Long, String, Double)].collect()

      val block = Block.pairs(Block.keys(mentions, cfg), mentions, cfg)._2.head()
      val observed = metrics.collect { case ("pairs", `pairsId`, name, v) => name -> v }.toMap
      assert(observed == block.schema.fieldNames.map(k => k -> block.getAs[Long](k).toDouble).toMap,
        s"seed $seed")
      info(s"seed $seed block facts: $observed")
      assert(metrics.collect { case ("clusters", _, "n_clusters", v) => v }.toSeq ==
        Seq(clusters.select("cluster_id").distinct().count().toDouble))

      val rowsOut = store.lineage.get.groupBy("stage", "snapshot_id").agg(sum("rows_out"))
        .as[(String, Long, Long)].collect()
      assert(rowsOut.length == 5)
      for ((stage, id, n) <- rowsOut)
        assert(n == spark.read.parquet(s"$root/$stage/snapshot=$id").count(), stage)
      assert(store.snapshots.get.select("stage", "row_count").as[(String, Long)].collect().toMap ==
        rowsOut.map(r => r._1 -> r._3).toMap)
      gen.unpersist()
    }
  }

  test("a commit finishes with its facts when no page is English and when every block is purged") {
    val gen = CorpusGen.generate(spark, 300L, 60L).cache()
    for ((pages, cfg) <- Seq(
        (CorpusGen.pages(gen).withColumn("lang", lit("de")), ErConfig()),
        (CorpusGen.pages(gen), ErConfig(cliqueMax = 0, chainMax = 0)))) {
      val store = new SnapshotStore(spark, tmpRoot())
      val clusters = ResumablePipeline.run(spark, store, pages, cfg)
      val facts = store.metrics.get.select("stage", "name", "value")
        .as[(String, String, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
      val rows = store.snapshots.get.select("stage", "row_count").as[(String, Long)].collect().toMap
      assert(rows("pairs") == 0L && rows("edges") == 0L)
      assert(facts(("pairs", "n_chained")) == 0.0)
      assert(facts(("pairs", "n_purged")) == facts(("pairs", "n_blocks")))
      assert(facts(("clusters", "n_clusters")) == rows("mentions").toDouble)
      assert(clusters.count() == rows("mentions"))
      if (rows("mentions") == 0L)
        assert(facts.values.forall(_ == 0.0) &&
          store.lineage.get.filter(col("stage") =!= "extract").isEmpty)
      else
        assert(facts(("pairs", "n_blocks")) > 0.0 && facts(("pairs", "max_block")) > 0.0)
    }
    gen.unpersist()
  }

  test("a store whose bookkeeping rows Spark appended replays and commits beside them") {
    val root = tmpRoot()
    val gen = CorpusGen.generate(spark, 300L, 60L).cache()
    val pages = CorpusGen.pages(gen)
    val run1 = ResumablePipeline.run(spark, new SnapshotStore(spark, root), pages)
      .as[(Long, Long)].collect().sorted.toSeq
    // rewrite the bookkeeping tables as one Spark append each
    import scala.reflect.io.Directory
    val written = new SnapshotStore(spark, root)
    for ((table, rows, schema) <- Seq(
        ("_snapshots", written.snapshots, SnapshotStore.LogSchema),
        ("_lineage", written.lineage, SnapshotStore.LineageSchema),
        ("_metrics", written.metrics, SnapshotStore.MetricsSchema))) {
      import scala.jdk.CollectionConverters._
      val kept = rows.get.collect().toSeq
      new Directory(new java.io.File(s"$root/$table")).deleteRecursively()
      spark.createDataFrame(kept.asJava, schema).coalesce(1)
        .write.mode(SaveMode.Append).parquet(s"$root/$table")
    }

    val store = new SnapshotStore(spark, root)
    val (replayed, jobs) = countJobs(ResumablePipeline.run(spark, store, pages))
    assert(jobs <= 1, s"replay launched $jobs jobs")
    assert(replayed.as[(Long, Long)].collect().sorted.toSeq == run1)
    new Directory(new java.io.File(s"$root/clusters")).deleteRecursively()
    val run3 = ResumablePipeline.run(spark, new SnapshotStore(spark, root), pages)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(run3 == run1)
    assert(store.metrics.get.filter(col("name") === "n_clusters")
      .select("snapshot_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(store.snapshots.get.filter(col("stage") === "clusters").count() == 2L)
  }
}
